"""Conversion pipelines (reference query lifecycles, SURVEY §3).

``xml_to_csv`` is the flagship path (§3.1: URL/file -> validate ->
dialect detect -> flatten -> prune -> CSV) and holds all of one
conversion's state. Everything between source and sink is one lazy
DataFrame plan — Catalyst owns ordering; the only driver
materializations are the tiny category dimension, the pivot-key
distinct scans (param, fabric, features) and the Q5 prune aggregate
(bounded dimensions and one aggregate row, SURVEY §4). A re-ingest of
unchanged bytes copies the CSV the earlier conversion wrote; every
other conversion runs from scratch.

``convert_file`` is the extension-dispatch surface (§3.2-3.3): one
route table keyed by (source extension, target extension). A pair
outside the table takes its source extension's default route —
``.csv`` -> XML catalog, ``.xlsx``/``.xls`` -> CSV, ``.json`` -> CSV,
anything else -> the XML pipeline. An ``http(s)://`` source is fetched
to a temp ``.xml`` file first (S1) and then routed like that file.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magicxml_spark.functions.strings import quoted_col
from magicxml_spark.operators.category_path import build_category_paths
from magicxml_spark.operators.flatten import (
    ROW_ORDER,
    flatten_offer_records,
    flatten_russian_records,
    flatten_service_records,
)
from magicxml_spark.operators.pruning import select_output_columns
from magicxml_spark.sinks.csv_sink import write_csv
from magicxml_spark.sinks.json_sink import (
    write_json_array,
    write_json_documents,
    xml_records_to_json,
)
from magicxml_spark.sinks.xml_sink import write_simple_catalog, write_yml_catalog
from magicxml_spark.sources.csv_source import read_csv
from magicxml_spark.sources.json_source import read_json
from magicxml_spark.sources.schema_registry import INGEST_CACHE, content_key
from magicxml_spark.sources.xml_source import (
    read_categories,
    read_xml_records,
)


def xml_to_csv(
    spark: SparkSession,
    src: str,
    dst: str,
    dialect: str | None = None,
) -> str:
    """§3.1 flagship: XML catalog -> pruned ';'-CSV, one BOM file in
    the reference's byte format.

    A single XML file scans as ONE partition (the XML source splits by
    file, not rowTag) — everything downstream would run serially, so
    the under-parallel scan is re-partitioned once up front.

    A conversion has two outcomes. It records the CSV it wrote, with
    that CSV's own content key (``schema_registry.content_key``), under
    the source's content key and the requested ``dialect``; a later
    conversion of the same bytes copies that CSV to ``dst`` while it is
    unchanged, and launches no Spark job. Anything else converts fresh."""
    ckey = content_key(src)
    earlier = INGEST_CACHE.get(ckey, ("csv", dialect))
    if earlier is not None and content_key(earlier[0]) == earlier[1]:
        return _copy_file(earlier[0], dst)
    records, detected = read_xml_records(spark, src, dialect)
    # document order, taken before anything reshuffles the scan: the
    # file is one scan partition, so its ids rise with the document
    records = records.withColumn(ROW_ORDER, F.monotonically_increasing_id())
    target = spark.sparkContext.defaultParallelism
    if records.rdd.getNumPartitions() < max(2, target // 2):
        records = records.repartition(target)
    persisted = []
    try:
        # the pipeline scans records several times (pivot-key distinct
        # scans, Q5 prune aggregate, final projection+write) — cache the
        # typed records so the XML text parses exactly once
        records = records.persist()
        persisted.append(records)
        if detected == "russian":
            flat = flatten_russian_records(records)
        elif detected == "service":
            flat = flatten_service_records(records)
        else:
            paths = None
            if detected == "offer":
                cats = read_categories(spark, src)
                if not cats.isEmpty():
                    paths = build_category_paths(cats, skip_undefined_names=True)
            flat = flatten_offer_records(records, detected, category_paths=paths)
        # pruning needs the Q5 all-blank aggregate (one pass) before the
        # write (second pass); without a persist both passes recompute
        # the full flatten projection — pivot, pictures, description
        # clean — doubling the conversion's compute
        flat = flat.persist()
        persisted.append(flat)
        cols = select_output_columns(flat.drop(ROW_ORDER))
        out = flat.select(*[quoted_col(c) for c in cols if c in flat.columns], ROW_ORDER)
        written = write_csv(out, dst, order_by=ROW_ORDER)
    finally:
        for df in persisted:
            df.unpersist()
    INGEST_CACHE.put(
        ckey, ("csv", dialect), (os.path.abspath(written), content_key(written))
    )
    return written


def _copy_file(src: str, dst: str) -> str:
    """``src``'s bytes at ``dst``; a ``dst`` that is ``src`` is left as is."""
    if not (os.path.exists(dst) and os.path.samefile(src, dst)):
        os.makedirs(os.path.dirname(os.path.abspath(dst)), exist_ok=True)
        shutil.copyfile(src, dst)
    return dst


def csv_to_xml(
    spark: SparkSession, src: str, dst: str, xml_format: str = "yandex_market"
) -> str:
    df = read_csv(spark, src)
    if xml_format == "yandex_market":
        return write_yml_catalog(df, dst)
    return write_simple_catalog(df, dst)


def json_to_csv(spark: SparkSession, src: str, dst: str) -> str:
    return write_csv(read_json(spark, src), dst)


def csv_to_json(spark: SparkSession, src: str, dst: str) -> str:
    return write_json_array(read_csv(spark, src), dst)


# The routes below import their converters when they run: the binary
# converters pull in pandas, which the XML/CSV/JSON routes never need.


def _csv_to_xlsx(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    from magicxml_spark.sources.excel import write_excel

    return write_excel(read_csv(spark, src), dst)


def _csv_to_pdf(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    from magicxml_spark.sources.binary_docs import render_pdf_report

    return render_pdf_report(read_csv(spark, src), dst)


def _excel_to_csv(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    from magicxml_spark.sources.excel import read_excel

    return write_csv(read_excel(spark, src), dst)


def _excel_to_pdf(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    from magicxml_spark.sources.excel import excel_to_pdf

    return excel_to_pdf(spark, src, dst)


def _write_bytes(df: DataFrame, column: str, dst: str) -> str:
    """The one binary payload a single-file converter produced."""
    (row,) = df.select(column).collect()
    with open(dst, "wb") as f:
        f.write(row[0])
    return dst


def _image_to_pdf(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    from magicxml_spark.sources.binary_docs import image_to_pdf, read_binary

    return _write_bytes(image_to_pdf(read_binary(spark, src)), "pdf_content", dst)


def _png_to_jpg(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    from magicxml_spark.sources.binary_docs import png_to_jpg, read_binary

    return _write_bytes(png_to_jpg(read_binary(spark, src)), "jpg_content", dst)


def _pdf_to_image(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    """K10: a one-page PDF gives ``dst``; a multipage one gives the zip
    of its page images beside it, ``{dst stem}.zip`` (main.py:1259-1320)."""
    from magicxml_spark.sources.binary_docs import (
        pdf_to_images,
        read_binary,
        write_image_outputs,
    )

    fmt = os.path.splitext(dst)[1][1:].lower()
    images = pdf_to_images(read_binary(spark, src), output_format=fmt)
    with tempfile.TemporaryDirectory() as tmp:
        (written,) = write_image_outputs(images, tmp)
        if written.endswith(".zip"):
            dst = os.path.splitext(dst)[0] + ".zip"
        shutil.move(written, dst)
    return dst


def _pdf_to_csv(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    from magicxml_spark.sources.binary_docs import extract_pdf_tables, read_binary

    return write_csv(extract_pdf_tables(read_binary(spark, src)), dst)


def _pdf_to_json(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    from magicxml_spark.sources.binary_docs import extract_pdf_documents, read_binary

    return write_json_array(extract_pdf_documents(read_binary(spark, src)), dst)


def _xml_to_json(spark: SparkSession, src: str, dst: str, options: dict) -> str:
    records, _ = read_xml_records(spark, src, options.get("dialect"))
    return write_json_documents(xml_records_to_json(records), dst)


# (source extension, target extension) -> route(spark, src, dst, options).
# A target of None is the source extension's default route; (None, None)
# is the default for every other source extension.
ROUTES = {
    (".csv", None): lambda spark, src, dst, options: csv_to_xml(
        spark, src, dst, options.get("xml_format", "yandex_market")
    ),
    (".csv", ".xlsx"): _csv_to_xlsx,
    (".csv", ".pdf"): _csv_to_pdf,
    (".xlsx", None): _excel_to_csv,
    (".xls", None): _excel_to_csv,
    (".xlsx", ".pdf"): _excel_to_pdf,
    (".xls", ".pdf"): _excel_to_pdf,
    (".json", None): lambda spark, src, dst, options: json_to_csv(spark, src, dst),
    (".png", ".pdf"): _image_to_pdf,
    (".jpg", ".pdf"): _image_to_pdf,
    (".jpeg", ".pdf"): _image_to_pdf,
    (".png", ".jpg"): _png_to_jpg,
    (".pdf", ".png"): _pdf_to_image,
    (".pdf", ".jpg"): _pdf_to_image,
    (".pdf", ".csv"): _pdf_to_csv,
    (".pdf", ".json"): _pdf_to_json,
    (".xml", ".json"): _xml_to_json,
    (None, None): lambda spark, src, dst, options: xml_to_csv(
        spark, src, dst, dialect=options.get("dialect")
    ),
}


def convert_file(spark: SparkSession, src: str, dst: str, **options) -> str:
    """§3.2 extension dispatch through ``ROUTES``; reads the ``dialect``
    and ``xml_format`` options only."""
    if src.lower().startswith(("http://", "https://")):
        from magicxml_spark.sources.http_fetch import fetch_to_file

        with tempfile.TemporaryDirectory() as tmp:
            local = fetch_to_file(src, os.path.join(tmp, "feed.xml"))
            return convert_file(spark, local, dst, **options)
    s, d = os.path.splitext(src)[1].lower(), os.path.splitext(dst)[1].lower()
    route = ROUTES.get((s, d)) or ROUTES.get((s, None)) or ROUTES[(None, None)]
    return route(spark, src, dst, options)
