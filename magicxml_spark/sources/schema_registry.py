"""The process-wide ingest cache, keyed by exact file content.

The reference's preview->convert flow reads every feed at least twice
(main.py:1690-1770), and a scheduled pipeline reads it forever. A
re-ingest of unchanged bytes is therefore worth serving without a
second conversion: ``INGEST_CACHE`` records, under the source's
``content_key``, the CSV a conversion wrote (with that CSV's own
content key) and the presplit parts of a big feed. Any other read —
new bytes, a changed CSV — converts from scratch and discovers its
schema, so no cached result ever outlives the bytes it came from.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections import OrderedDict


class SchemaRegistry:
    """An always-empty (dialect, feed_key) -> schema lookup. The library
    registers no schemas; this stays importable only because
    ``perfbench/run.py::trace_hooks`` looks feeds up in it."""

    def get(self, dialect: str, feed_key: str) -> None:
        return None


DEFAULT_REGISTRY = SchemaRegistry()


# ---------------------------------------------------------------------------
# Ingest cache: what a re-ingest of the SAME bytes reuses — the CSV a
# conversion wrote (its path and its own content key) and the presplit
# parts directory. Byte-identical input implies an identical CSV, so a
# re-ingest copies the earlier one while it is unchanged. Any content
# change misses the key. Values are paths, never row data (the CSV
# stays on disk).
# ---------------------------------------------------------------------------


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


#: the process-wide ingest cache (XML source presplit, ``xml_to_csv``)
INGEST_CACHE = IngestCache()

