"""Per-feed XML schema registry — skip structure discovery on re-ingest.

Spark's XML reader makes a full structure-discovery pass over the data
even with ``inferSchema=false``: it must learn the field NAMES (and
array-vs-scalar shapes) before it can parse rows. For a feed that is
re-ingested repeatedly — the reference's preview->convert flow hits every
URL at least twice (main.py:1690-1770), and a scheduled pipeline hits it
forever — that pass is pure waste once the feed's structure is known.

This registry caches the discovered ``StructType`` keyed by
``(dialect, feed_key)`` and hands it back as an explicit ``.schema()``
on later reads: one data scan instead of two. Entries can optionally be
persisted as JSON files so steady state survives process restarts — the
1000-executor analogue is a schema file next to the feed in object
storage (or a metastore table property), read once by the driver.

Schema drift: an explicit schema silently DROPS fields the feed grew
since registration. ``read_xml_records`` therefore re-checks the head
sample's record tags/attributes against the registered schema and falls
back to full discovery when it sees an unknown name — drift costs one
re-inference; stability costs zero. A field that first appears both
late in the file AND after registration is the residual blind spot;
``invalidate()`` / ``refresh_schema=True`` covers forced re-ingest.
"""

from __future__ import annotations

import atexit
import json
import os
import re
import shutil
import tempfile
import threading
from collections import OrderedDict

from pyspark.sql.types import StructType


class SchemaRegistry:
    """Thread-safe (dialect, feed_key) -> StructType cache.

    ``persist_dir`` (or env ``MXS_SCHEMA_DIR``) adds JSON spill so a new
    driver process starts warm. File names are sanitized keys; contents
    are ``StructType.json()`` — portable across Spark versions.
    """

    def __init__(self, persist_dir: str | None = None):
        self._mem: dict[tuple[str, str], StructType] = {}
        self._lock = threading.Lock()
        self.persist_dir = persist_dir or os.environ.get("MXS_SCHEMA_DIR")

    def _file(self, dialect: str, feed_key: str) -> str | None:
        if not self.persist_dir:
            return None
        safe = re.sub(r"[^A-Za-z0-9._-]+", "_", f"{dialect}__{feed_key}")[-200:]
        return os.path.join(self.persist_dir, safe + ".schema.json")

    def get(self, dialect: str, feed_key: str) -> StructType | None:
        with self._lock:
            hit = self._mem.get((dialect, feed_key))
        if hit is not None:
            return hit
        path = self._file(dialect, feed_key)
        if path and os.path.isfile(path):
            try:
                with open(path, encoding="utf-8") as f:
                    schema = StructType.fromJson(json.load(f))
            except (OSError, ValueError, KeyError):
                return None
            with self._lock:
                self._mem[(dialect, feed_key)] = schema
            return schema
        return None

    def put(self, dialect: str, feed_key: str, schema: StructType) -> None:
        with self._lock:
            self._mem[(dialect, feed_key)] = schema
        path = self._file(dialect, feed_key)
        if path:
            try:
                os.makedirs(self.persist_dir, exist_ok=True)
                tmp = path + ".tmp"
                with open(tmp, "w", encoding="utf-8") as f:
                    json.dump(schema.jsonValue(), f)
                os.replace(tmp, path)
            except OSError:
                pass  # persistence is best-effort; memory entry stands

    def invalidate(self, dialect: str, feed_key: str) -> None:
        with self._lock:
            self._mem.pop((dialect, feed_key), None)
        path = self._file(dialect, feed_key)
        if path and os.path.isfile(path):
            try:
                os.unlink(path)
            except OSError:
                pass

    def clear(self) -> None:
        with self._lock:
            self._mem.clear()


#: process-default registry used by read_xml_records; in-memory unless
#: MXS_SCHEMA_DIR points somewhere.
DEFAULT_REGISTRY = SchemaRegistry()


# ---------------------------------------------------------------------------
# Ingest cache: everything a re-ingest of the SAME bytes can reuse
# instead of re-deriving — the single-file CSV a conversion wrote (its
# path and its own content key), presplit parts, the "these bytes already
# parsed under this schema" mark, category paths, pivot keys, pruned
# columns. Byte-identical input implies an identical CSV, so a re-ingest
# copies the earlier one while it is unchanged; when it changed, or the
# output is multi-part, the derived artifacts replay and the re-ingest
# collapses to one parse+project+write pass. Any content change misses
# the key and re-derives. Values are dimension-sized or paths, never row
# data proportional to the input (the CSV stays on disk).
# ---------------------------------------------------------------------------

#: largest dimension (category or path rows) collected to the driver;
#: bigger ones stay lazy frames and are never cached
_CATEGORY_CACHE_MAX_ROWS = 100_000


def content_key(path: str) -> str | None:
    """Exact-content identity of a local file:
    ``(dev, ino, size, mtime_ns, ctime_ns)``. ``cp -p``, ``rsync -a`` and
    ``tar`` restore mtime after an in-place rewrite, but no user can set
    ctime, so a rewrite always changes the key. None for non-files
    (directories, URLs) — callers skip caching."""
    if not os.path.isfile(path):
        return None
    st = os.stat(path)
    return f"{st.st_dev}:{st.st_ino}:{st.st_size}:{st.st_mtime_ns}:{st.st_ctime_ns}"


class IngestCache:
    """Thread-safe bounded LRU: content key -> {name: value}. Each entry
    owns one directory, under one temp root that a single ``atexit``
    hook removes; its ``scratch_dir`` directories sit inside it, and
    evicting the entry deletes them (a frame still reading an evicted
    presplit can no longer be re-scanned)."""

    max_entries = 16
    max_rows = _CATEGORY_CACHE_MAX_ROWS

    def __init__(self):
        self._entries: OrderedDict[str, dict] = OrderedDict()
        self._lock = threading.Lock()
        self._root: str | None = None

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key: str | None, name):
        with self._lock:
            entry = self._entries.get(key)
            if entry is None:
                return None
            self._entries.move_to_end(key)
            return entry.get(name)

    def put(self, key: str | None, name, value) -> None:
        if key is not None and value is not None:
            with self._lock:
                self._entry(key)[name] = value

    def collect_rows(self, df) -> list | None:
        """``df``'s rows if it has at most ``max_rows`` (no more than
        ``max_rows + 1`` ever reach the driver), else None."""
        rows = df.limit(self.max_rows + 1).collect()
        return rows if len(rows) <= self.max_rows else None

    def scratch_dir(self, key: str) -> str:
        """A new, empty directory deleted together with ``key``'s entry."""
        with self._lock:
            return tempfile.mkdtemp(dir=self._entry(key)["_dir"])

    def clear(self) -> None:
        with self._lock:
            while self._entries:
                self._evict()

    def _entry(self, key: str) -> dict:
        if key not in self._entries:
            while len(self._entries) >= self.max_entries:
                self._evict()
            if self._root is None:
                self._root = tempfile.mkdtemp(prefix="mxs_ingest_")
                atexit.register(shutil.rmtree, self._root, ignore_errors=True)
            # made with the entry, not on first scratch_dir: an entry
            # evicted between a caller's scratch_dir and put comes back
            # with a directory of its own
            self._entries[key] = {"_dir": tempfile.mkdtemp(dir=self._root)}
        self._entries.move_to_end(key)
        return self._entries[key]

    def _evict(self) -> None:
        _, entry = self._entries.popitem(last=False)
        shutil.rmtree(entry["_dir"], ignore_errors=True)


#: the process-wide ingest cache (XML source, conversion plans, CSV sink)
INGEST_CACHE = IngestCache()


# Record-level tag/attribute probe for the drift check. Scans the head
# sample's first row-tag element span for child tags and attributes —
# the same "driver looks at a head sample" trick validate/detect use.
_TAG = re.compile(r"<([A-Za-zА-Яа-яЁё_][\w.\-Ёё]*)")
_ATTR = re.compile(r"([A-Za-zА-Яа-яЁё_][\w.\-Ёё]*)\s*=")


def sample_record_names(sample: str, row_tag: str) -> set[str] | None:
    """Names the head sample's records would parse into: child element
    tags plus ``_``-prefixed attributes (Spark XML's attributePrefix).

    Returns None when the sample holds no complete record — caller
    should skip the drift check rather than treat it as a mismatch.
    """
    tag = re.escape(row_tag)
    # (?=[\s/>]) keeps <offers> from matching rowTag "offer"
    spans = re.findall(
        rf"<{tag}(?=[\s/>])([^>]*)>(.*?)</{tag}>",
        sample,
        re.DOTALL,
    )
    if not spans:
        return None
    names: set[str] = set()
    for attrs, body in spans:
        names.update("_" + a for a in _ATTR.findall(attrs))
        names.update(t for t in _TAG.findall(body) if not t.startswith("/"))
    return names


def schema_covers(schema: StructType, names: set[str]) -> bool:
    """True when every sampled record name has a schema field. Nested
    tags resolve against nested struct/array-of-struct fields, so a
    <stock><quantity>…</stock> sample matches the discovered
    ``stock: struct<quantity,…>`` field."""

    def walk(dt, out: set[str]) -> None:
        from pyspark.sql.types import ArrayType, StructType as ST

        if isinstance(dt, ST):
            for f in dt.fields:
                out.add(f.name)
                walk(f.dataType, out)
        elif isinstance(dt, ArrayType):
            walk(dt.elementType, out)

    known: set[str] = set()
    walk(schema, known)
    return names <= known
