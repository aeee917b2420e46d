"""Round-trip property checks (SURVEY §5): CSV -> YML XML -> flatten
-> CSV-shaped rows, and CSV -> JSON -> rows, over adversarial values
(quotes, XML metacharacters, unicode, multi-value strings)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from magicxml_spark.operators.flatten import flatten_offer_records
from magicxml_spark.sinks.json_sink import write_json_array
from magicxml_spark.sinks.xml_sink import write_yml_catalog
from magicxml_spark.sources.xml_source import read_xml_records

ROWS = [
    {
        "id": "1",
        "name": 'Диван "Мечта" & Ко',
        "price": "1234.50",
        "category_path": "Мебель///Диваны",
        "pictures": "http://x/1.jpg///http://x/2.jpg",
        "param_Цвет": "Синий <тёмный>",
        "available": "1",
        "description": "Отличный & <надёжный>",
    },
    {
        "id": "2",
        "name": "Стол",
        "price": "500",
        "category_path": "Мебель///Столы",
        "pictures": "",
        "param_Цвет": "",
        "available": "0",
        "description": "",
    },
]


@pytest.fixture(scope="module")
def csv_df(spark):
    return spark.createDataFrame(
        [tuple(r.values()) for r in ROWS], list(ROWS[0].keys())
    )


def test_csv_to_yml_to_rows_roundtrip(spark, keep, csv_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rt") / "rt.xml")
    write_yml_catalog(csv_df, out)
    records, dialect = read_xml_records(spark, out, keep)
    assert dialect == "offer"
    # category dimension regenerated with dense ids
    from magicxml_spark.operators.category_path import build_category_paths
    from magicxml_spark.sources.xml_source import read_categories

    paths = build_category_paths(
        read_categories(spark, out), skip_undefined_names=True
    )
    flat = {
        r["attr_id"]: r.asDict()
        for r in flatten_offer_records(records, dialect, category_paths=paths).collect()
    }
    for src in ROWS:
        got = flat[src["id"]]
        assert got["name"] == src["name"]  # quotes & '&' survive
        assert got["price"] == src["price"]  # string fidelity
        assert got["category_path"] == src["category_path"]
        if src["pictures"]:
            # P13 sorts; our fixture is already sorted
            assert got["pictures"] == src["pictures"]
        if src["param_Цвет"]:
            # param_* columns come back pivoted under the bare key
            assert got["Цвет"] == src["param_Цвет"]
        # YML carries available as an offer ATTRIBUTE -> it returns as
        # attr_available; the 'available' column is P18's default (the
        # reference round-trips identically)
        assert got["attr_available"] == src["available"]
        assert got["available"] == "1"


def test_csv_to_json_roundtrip(spark, csv_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rtj") / "rt.json")
    write_json_array(csv_df.select("id", "name", "price"), out)
    doc = json.loads(open(out, encoding="utf-8").read())
    df = spark.createDataFrame(doc)
    back = {r["id"]: r for r in df.collect()}
    for src in ROWS:
        assert back[src["id"]]["name"] == src["name"]
        assert back[src["id"]]["price"] == src["price"]


def test_yml_sink_escapes_are_wellformed(spark, csv_df, tmp_path_factory):
    import xml.etree.ElementTree as ET

    out = str(tmp_path_factory.mktemp("esc") / "esc.xml")
    write_yml_catalog(csv_df, out)
    root = ET.parse(out).getroot()  # parse fails if escaping broke
    descs = [o.findtext("description") for o in root.findall(".//offer")]
    assert "Отличный & <надёжный>" in descs


def test_yml_header_streams_degenerate_category_set(spark, tmp_path_factory, monkeypatch):
    """A catalog whose category_path is unique per row (categories ~
    rows) must stream the header through toLocalIterator — no full
    driver collect anywhere on the write path — and still emit every
    category exactly once with dense ids."""
    from pyspark.sql import DataFrame

    n = 500
    df = spark.range(n).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("product "), F.col("id")).alias("name"),
        F.concat(F.lit("Root///Branch "), F.col("id")).alias("category_path"),
    )

    def _no_collect(self, *a, **k):
        raise AssertionError("driver-side collect in write_yml_catalog path")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    monkeypatch.setattr(DataFrame, "toPandas", _no_collect)
    out = str(tmp_path_factory.mktemp("yml_degen") / "catalog.xml")
    write_yml_catalog(df, out)

    import re

    text = open(out, encoding="utf-8").read()
    cat_ids = re.findall(r'<category id="(\d+)">', text)
    assert len(cat_ids) == n
    assert sorted(int(i) for i in cat_ids) == list(range(1, n + 1))
    assert text.count("<offer ") == n


def test_yml_sink_failure_preserves_prior_file(spark, tmp_path_factory):
    """The single-file sinks evaluate their plans WHILE streaming rows
    to disk (toLocalIterator), so a mid-write task failure must not
    destroy a previously valid catalog at the same path: the write goes
    to a sibling temp file and renames into place only on success."""
    path = str(tmp_path_factory.mktemp("atomic") / "cat.xml")
    good = spark.createDataFrame(
        [("1", "Widget", "100", "Root///Leaf")],
        ["id", "name", "price", "category_path"],
    )
    write_yml_catalog(good, path)
    before = open(path, encoding="utf-8").read()
    assert before.endswith("</yml_catalog>")

    bad = good.withColumn(
        "name",
        F.when(F.length("name") > 0, F.raise_error("boom")).otherwise("x"),
    )
    with pytest.raises(Exception, match="boom"):
        write_yml_catalog(bad, path)
    assert open(path, encoding="utf-8").read() == before
    import os

    assert not os.path.exists(path + ".tmp")
