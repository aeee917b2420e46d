"""XML ingestion: S2 encoding cascade, S3 parse+repair, S4 structure
validation, S5 dialect auto-detection (reference main.py:1384-1475,
1786-1797).

Division of labor, Spark-first:

* Document-level concerns (encoding probe, structure validation,
  dialect detection, repair) are cheap text passes over a HEAD SAMPLE
  on the driver — the same trick Spark's own schema inference uses.
* Record parsing is Spark's native XML source (``format("xml")`` with
  ``rowTag`` per dialect): one plain read per file, whatever its size.
  ``inferSchema=false`` keeps every leaf a string, matching the
  reference's all-strings data model (SURVEY §1.1) and preserving
  values like "1234.50" byte-for-byte. Every read discovers its
  schema from the bytes it reads; nothing is carried over from an
  earlier read of the same path.
* Encoding follows the S2 cascade, not the XML declaration: a feed
  that is not UTF-8, or whose declaration names another encoding, is
  read from a UTF-8 copy (``_load_decoded``).
* Repair (bare ``&``, control chars) is an in-memory text rewrite of
  the whole document, as the reference does within its 100 MB upload
  cap (main.py:1779).
"""

from __future__ import annotations

import codecs
import itertools
import os
import re
import tempfile
from collections.abc import Iterable

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

#: read granularity of the encoding check and of the UTF-8 copy
_CHUNK = 1 << 20
#: an XML declaration that names an encoding (groups: up to the value,
#: its quote, the name)
_DECLARED_ENCODING = re.compile(
    r"""^(\ufeff?\s*<\?xml[^>]*?\sencoding\s*=\s*)(["'])([^"']*)\2"""
)

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
    return _decode(raw, final=True)


def _decode(raw: bytes, final: bool) -> str:
    """The S2 cascade. ``final=False`` decodes a head sample: a
    multi-byte character cut off at its end is left out instead of
    failing the decoder (which would let windows-1251 "succeed" on
    UTF-8 bytes)."""
    for enc in ENCODING_CASCADE:
        try:
            return codecs.getincrementaldecoder(enc)().decode(raw, final)
        except (UnicodeDecodeError, LookupError):
            continue
    return raw.decode("utf-8", errors="replace")


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


def _load(spark: SparkSession, row_tag: str, path: str) -> DataFrame:
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("inferSchema", "false")
        .option("mode", "PERMISSIVE")
        .load(path)
    )


def _parsed(df: DataFrame) -> bool:
    return bool(df.columns) and df.columns != ["_corrupt_record"]


def _decodes(path: str, encoding: str) -> bool:
    """Whether all of ``path`` decodes in ``encoding``, read a chunk at a time."""
    decoder = codecs.getincrementaldecoder(encoding)()
    try:
        with open(path, "rb") as f:
            while chunk := f.read(_CHUNK):
                decoder.decode(chunk)
        decoder.decode(b"", final=True)
    except UnicodeDecodeError:
        return False
    return True


def _load_utf8_copy(spark: SparkSession, row_tag: str, pieces: Iterable[str]) -> DataFrame:
    """Spark's read of the text ``pieces`` from a UTF-8 copy whose
    declaration names UTF-8. A parsed frame is materialised before the
    copy is deleted, because the scan is lazy."""
    pieces = iter(pieces)
    with tempfile.NamedTemporaryFile(
        "w", suffix=".xml", delete=False, encoding="utf-8", newline=""
    ) as tmp:
        tmp.write(_DECLARED_ENCODING.sub(r"\g<1>\g<2>UTF-8\g<2>", next(pieces, ""), count=1))
        tmp.writelines(pieces)
    try:
        df = _load(spark, row_tag, tmp.name)
        return df.localCheckpoint(eager=True) if _parsed(df) else df
    finally:
        os.unlink(tmp.name)


def _load_decoded(spark: SparkSession, row_tag: str, path: str) -> DataFrame:
    """S2: Spark's read of ``path`` as the decode cascade reads it.
    Spark reads the file itself only when its bytes are UTF-8 and its
    declaration names no other encoding: its parser believes the
    declaration or else assumes UTF-8, whatever the ``charset`` option
    says. Any other feed is transcoded, a chunk at a time, to a UTF-8
    copy in the first encoding of the cascade that decodes all of it."""
    encoding = next((e for e in ENCODING_CASCADE if _decodes(path, e)), "utf-8")
    with open(path, encoding=encoding, errors="replace", newline="") as f:
        head = f.read(_CHUNK)
        declared = _DECLARED_ENCODING.match(head)
        declares_utf8 = declared is None or declared[3].upper() in ("UTF-8", "UTF8")
        if encoding == "utf-8" and declares_utf8:
            return _load(spark, row_tag, path)
        return _load_utf8_copy(
            spark, row_tag, itertools.chain([head], iter(lambda: f.read(_CHUNK), ""))
        )


def read_xml_records(
    spark: SparkSession,
    path: str,
    dialect: str | None = None,
    sample_bytes: int = 1 << 20,
) -> tuple[DataFrame, str]:
    """Read one XML catalog file into a (records_df, dialect) pair.

    Driver reads a head sample for validate/detect; Spark's XML source
    discovers the schema and parses the records, one plain read of the
    file (or of its UTF-8 copy, ``_load_decoded``) whatever its size. If
    that parse yields only corrupt records, the repaired text is re-read
    (PERMISSIVE + repair pre-pass).
    """
    with open(path, "rb") as f:
        sample = _decode(f.read(sample_bytes), final=False)
    validate_xml_structure(sample)
    if dialect is None:
        dialect = detect_dialect(sample)
    row_tag = _ROW_TAGS[dialect]

    df = _load_decoded(spark, row_tag, path)
    if not _parsed(df):
        # parse produced nothing usable -> repair and retry
        with open(path, "rb") as f:
            text = decode_bytes(f.read())
        df = _load_utf8_copy(spark, row_tag, [repair_xml_text(clean_xml_text(text))])
        if not _parsed(df):
            raise ValueError("XML could not be parsed, even after repair.")
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
    df = _load_decoded(spark, "category", path)
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
