"""XML ingestion: S2 encoding cascade, S3 parse+repair, S4 structure
validation, S5 dialect auto-detection (reference main.py:1384-1475,
1786-1797).

Division of labor, Spark-first:

* Document-level concerns (encoding probe, structure validation,
  dialect detection, repair) are cheap text passes over a HEAD SAMPLE
  on the driver — the same trick Spark's own schema inference uses.
* Record parsing is Spark's native XML source (``format("xml")`` with
  ``rowTag`` per dialect) — distributed, streaming per file split.
  ``inferSchema=false`` keeps every leaf a string, matching the
  reference's all-strings data model (SURVEY §1.1) and preserving
  values like "1234.50" byte-for-byte. Every read discovers its
  schema from the bytes it reads; nothing is carried over from an
  earlier read of the same path.
* Repair (bare ``&``, control chars) is a text rewrite. For the
  100 TB path this is a ``spark.read.text`` -> ``regexp_replace`` ->
  write pre-pass; the in-memory helper here covers the reference's
  single-document envelope (its inputs are capped at 100 MB,
  main.py:1779).
"""

from __future__ import annotations

import codecs
import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession

# S2: the reference's decode cascade (main.py:1786-1797).
ENCODING_CASCADE = ("utf-8", "windows-1251", "latin1", "iso-8859-1", "cp1252")

# S5: probe order is significant (main.py:1463-1475).
DIALECTS = ("offer", "product", "russian", "service")
_ROW_TAGS = {
    "offer": "offer",
    "product": "product",
    "russian": "ЭлементСправочника",
    "service": "service",
}

#: largest category dimension ``read_categories`` collects to the driver
CATEGORY_MAX_ROWS = 100_000

_CONTROL_CHARS = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
_BARE_AMP = re.compile(r"&(?![a-zA-Z0-9#]+;)")
_INVALID_XML_CHARS = re.compile(r"[^\x09\x0A\x0D\x20-퟿-�]")

_STRUCTURE_MARKERS = (
    "<yml_catalog",
    "<catalog",
    "<offers",
    "<offer",
    "<products",
    "<product",
    "<shop",
    "<categories",
    "<category",
    "<корневой",
    "<элементсправочника",
    "<service",
)


def decode_bytes(raw: bytes) -> str:
    """S2: utf-8 -> windows-1251 -> latin1 -> iso-8859-1 -> cp1252 ->
    utf-8(errors=replace), first decoder that succeeds wins."""
    return _decode(raw, final=True)[0]


def _decode(raw: bytes, final: bool) -> tuple[str, str]:
    """The S2 cascade; returns the text and the encoding that decoded
    it. ``final=False`` decodes a head sample: a multi-byte character
    cut off at its end is left out instead of failing the decoder
    (which would let windows-1251 "succeed" on UTF-8 bytes)."""
    for enc in ENCODING_CASCADE:
        try:
            return codecs.getincrementaldecoder(enc)().decode(raw, final), enc
        except (UnicodeDecodeError, LookupError):
            continue
    return raw.decode("utf-8", errors="replace"), "utf-8"


def validate_xml_structure(text: str) -> None:
    """S4 (main.py:1390-1424): reject HTML pages and error pages;
    require at least one known catalog marker."""
    lowered = text.strip().lower()
    if lowered.startswith("<html") or lowered.startswith("<!doctype html"):
        raise ValueError("Data contains an HTML page instead of XML/YML.")
    if (
        ("error" in lowered or "not found" in lowered or "404" in lowered)
        and not text.strip().startswith("<?xml")
        and not any(m in lowered for m in _STRUCTURE_MARKERS[:6])
    ):
        raise ValueError("Data contains an error page.")
    cleaned = text.strip().lstrip("﻿")
    if not cleaned.startswith("<"):
        raise ValueError("Received data is not an XML file.")
    if not any(m in lowered for m in _STRUCTURE_MARKERS):
        raise ValueError(
            "XML does not contain expected elements (yml_catalog, catalog, "
            "offers, products, shop, categories, 1C, or service markers)."
        )


def clean_xml_text(text: str) -> str:
    """S3 first-chance cleanup (main.py:1430-1438): strip BOM and
    XML-illegal control characters."""
    cleaned = text.strip().lstrip("﻿")
    return _CONTROL_CHARS.sub("", cleaned)


def repair_xml_text(text: str) -> str:
    """S3 repair retry (main.py:1444-1448): escape bare '&', drop
    characters outside the XML 1.0 range."""
    repaired = _BARE_AMP.sub("&amp;", text)
    return _INVALID_XML_CHARS.sub("", repaired)


def detect_dialect(text: str) -> str:
    """S5 (main.py:1463-1475): probe for row elements in fixed order.
    A regex probe over the text sample mirrors the reference's
    findall('.//tag') without requiring a full parse."""
    for dialect in DIALECTS:
        tag = _ROW_TAGS[dialect]
        if re.search(rf"<{tag}[\s>/]", text):
            return dialect
    # service root-as-record fallback (main.py:107)
    if re.match(r"^\s*(<\?xml[^>]*\?>\s*)?<service[\s>]", text):
        return "service"
    raise ValueError("Unsupported XML format, auto-detection failed.")


def read_xml_records(
    spark: SparkSession,
    path: str,
    dialect: str | None = None,
    sample_bytes: int = 1 << 20,
    presplit_threshold: int = 16 << 20,
) -> tuple[DataFrame, str]:
    """Read one XML catalog file into a (records_df, dialect) pair.

    Driver reads a head sample for validate/detect; Spark's XML source
    discovers the schema and parses the records. If the initial parse
    yields only corrupt records, the repaired text is re-read
    (PERMISSIVE + repair pre-pass).

    Files above ``presplit_threshold`` bytes are auto-split at row-tag
    boundaries, read in the encoding the head sample decoded with, into
    UTF-8 parts in a temp directory first — the XML source assigns one
    task per file, so without this a big single-file export would do
    BOTH its passes (structure inference + parse) serially. The parts
    directory is kept in ``schema_registry.INGEST_CACHE`` under the
    file's content key, so a re-read of the same bytes splits once.
    """
    from magicxml_spark.sources.schema_registry import INGEST_CACHE, content_key

    with open(path, "rb") as f:
        sample, encoding = _decode(f.read(sample_bytes), final=False)
    validate_xml_structure(sample)
    if dialect is None:
        dialect = detect_dialect(sample)

    orig_path = path
    ckey = content_key(path)
    if ckey and presplit_threshold and os.path.getsize(path) > presplit_threshold:
        from magicxml_spark.sources.xml_split import presplit_xml

        parts_dir = INGEST_CACHE.get(ckey, ("parts", dialect))
        if parts_dir is None or not os.path.isdir(parts_dir):
            parts_dir = INGEST_CACHE.scratch_dir(ckey)
            presplit_xml(path, parts_dir, _ROW_TAGS[dialect], encoding=encoding)
            INGEST_CACHE.put(ckey, ("parts", dialect), parts_dir)
        path = parts_dir

    def _read(p: str) -> DataFrame:
        return (
            spark.read.format("xml")
            .option("rowTag", _ROW_TAGS[dialect])
            .option("inferSchema", "false")
            .option("mode", "PERMISSIVE")
            .load(p)
        )

    df = _read(path)
    if not df.columns or df.columns == ["_corrupt_record"]:
        # parse produced nothing usable -> repair and retry. Always
        # repair from the ORIGINAL file — `path` may have been swapped
        # for the presplit parts directory (a repaired document parses
        # serially; corrupt giants are the rare path).
        with open(orig_path, "rb") as f:
            text = decode_bytes(f.read())
        repaired = repair_xml_text(clean_xml_text(text))
        tmp = tempfile.NamedTemporaryFile(
            "w", suffix=".xml", delete=False, encoding="utf-8"
        )
        tmp.write(repaired)
        tmp.close()
        # materialize before deleting the temp file — the scan is lazy
        df = _read(tmp.name).localCheckpoint(eager=True)
        os.unlink(tmp.name)
    return df, dialect


def read_categories(spark: SparkSession, path: str) -> DataFrame:
    """Category dimension (id, parent_id, name) from <category>
    elements (reference main.py:1477-1484). Tiny table — feeds the
    broadcast path builder (operators.category_path). A dimension of
    at most ``CATEGORY_MAX_ROWS`` rows is collected once and returned as
    driver-local rows, so its consumers never re-scan the file; an
    oversized one stays a lazy frame (no more than ``CATEGORY_MAX_ROWS
    + 1`` rows ever reach the driver)."""
    from pyspark.sql import functions as F

    _SCHEMA = "id string, parent_id string, name string"
    df = (
        spark.read.format("xml")
        .option("rowTag", "category")
        .option("inferSchema", "false")
        .load(path)
    )
    cols = set(df.columns)
    if "_id" not in cols:  # no <category> elements in this document
        return spark.createDataFrame([], _SCHEMA)
    parent = (
        F.col("_parentId").cast("string")
        if "_parentId" in cols
        else F.lit(None).cast("string")
    )
    name = (
        F.col("_VALUE").cast("string") if "_VALUE" in cols else F.lit(None).cast("string")
    )
    out = df.select(
        F.col("_id").cast("string").alias("id"),
        parent.alias("parent_id"),
        F.coalesce(name, F.lit("Undefined")).alias("name"),
    )
    rows = out.limit(CATEGORY_MAX_ROWS + 1).collect()
    if len(rows) > CATEGORY_MAX_ROWS:
        return out
    return spark.createDataFrame(rows, _SCHEMA)
