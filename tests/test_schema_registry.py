"""Schema registry + ingest cache (re-ingest fast path).

The registry exists so repeat ingests of a stable feed skip Spark XML's
structure-discovery pass (reference re-reads every feed at least twice:
preview then convert, main.py:1690-1770). These tests pin the
load-bearing behaviors: reuse, drift fallback, content-change
invalidation of the ingest cache (including same-size rewrites with a
restored mtime), and the cache's bound."""

from __future__ import annotations

import csv
import functools
import os
import time

import pytest
from pyspark.sql.types import StructType

from magicxml_spark.sources.schema_registry import (
    DEFAULT_REGISTRY,
    INGEST_CACHE,
    SchemaRegistry,
    content_key,
    sample_record_names,
    schema_covers,
)
from magicxml_spark.sources.xml_source import read_categories, read_xml_records

OFFER_DOC = """<?xml version='1.0' encoding='utf-8'?>
<yml_catalog date="2024-01-01"><shop>
<categories><category id="1">Root</category>
<category id="2" parentId="1">Child</category></categories>
<offers>
<offer id="10" available="1"><name>A</name><price>10.00</price>
<categoryId>2</categoryId><param name="Цвет">Red</param></offer>
<offer id="11"><name>B</name><price>20.00</price><categoryId>1</categoryId>
<param name="Цвет">Blue</param></offer>
</offers></shop></yml_catalog>"""


@pytest.fixture(autouse=True)
def _clean_registry():
    DEFAULT_REGISTRY.clear()
    INGEST_CACHE.clear()
    yield
    DEFAULT_REGISTRY.clear()
    INGEST_CACHE.clear()


def _write(tmp_path, body, name="feed.xml"):
    p = tmp_path / name
    p.write_text(body, encoding="utf-8")
    return str(p)


def test_registry_roundtrip_and_persistence(tmp_path):
    reg = SchemaRegistry(persist_dir=str(tmp_path / "schemas"))
    schema = StructType.fromJson(
        {"type": "struct", "fields": [
            {"name": "x", "type": "string", "nullable": True, "metadata": {}}]}
    )
    reg.put("offer", "feedA", schema)
    assert reg.get("offer", "feedA") == schema
    # a fresh registry over the same dir starts warm (JSON spill)
    reg2 = SchemaRegistry(persist_dir=str(tmp_path / "schemas"))
    assert reg2.get("offer", "feedA") == schema
    reg2.invalidate("offer", "feedA")
    assert reg2.get("offer", "feedA") is None
    assert SchemaRegistry(persist_dir=str(tmp_path / "schemas")).get(
        "offer", "feedA"
    ) is None


def test_sample_record_names_and_coverage(spark, tmp_path):
    names = sample_record_names(OFFER_DOC, "offer")
    assert names == {"_id", "_available", "name", "price", "categoryId", "param"}
    path = _write(tmp_path, OFFER_DOC)
    df, _ = read_xml_records(spark, path)
    assert schema_covers(df.schema, names)
    # a tag the feed never had is not covered
    assert not schema_covers(df.schema, names | {"vendor"})


def test_second_read_uses_registered_schema(spark, tmp_path):
    path = _write(tmp_path, OFFER_DOC)
    df1, d1 = read_xml_records(spark, path)
    assert DEFAULT_REGISTRY.get("offer", os.path.abspath(path)) is not None
    df2, d2 = read_xml_records(spark, path)
    assert d1 == d2 == "offer"
    assert df2.schema == df1.schema
    assert sorted(r["_id"] for r in df2.collect()) == ["10", "11"]


def test_schema_drift_falls_back_to_discovery(spark, tmp_path):
    path = _write(tmp_path, OFFER_DOC)
    read_xml_records(spark, path)
    grown = OFFER_DOC.replace(
        "<name>A</name>", "<name>A</name><vendor>ACME</vendor>"
    )
    time.sleep(0.01)
    _write(tmp_path, grown)
    df, _ = read_xml_records(spark, path)
    assert "vendor" in df.columns  # stale schema would have dropped it
    # and the registry now holds the refreshed schema
    assert "vendor" in DEFAULT_REGISTRY.get(
        "offer", os.path.abspath(path)
    ).fieldNames()


def test_refresh_schema_forces_discovery(spark, tmp_path):
    path = _write(tmp_path, OFFER_DOC)
    read_xml_records(spark, path)
    df, _ = read_xml_records(spark, path, refresh_schema=True)
    assert sorted(r["_id"] for r in df.collect()) == ["10", "11"]


def test_category_row_cache_replays_and_invalidates(spark, tmp_path):
    path = _write(tmp_path, OFFER_DOC)
    c1 = {(r["id"], r["parent_id"], r["name"]) for r in read_categories(spark, path).collect()}
    assert c1 == {("1", None, "Root"), ("2", "1", "Child")}
    # a re-read returns identical rows
    c2 = {(r["id"], r["parent_id"], r["name"]) for r in read_categories(spark, path).collect()}
    assert c2 == c1
    # content change -> fresh rows
    time.sleep(0.01)
    _write(
        tmp_path,
        OFFER_DOC.replace(
            "</categories>", '<category id="3" parentId="1">New</category></categories>'
        ),
    )
    c3 = {r["id"] for r in read_categories(spark, path).collect()}
    assert c3 == {"1", "2", "3"}


def test_meta_cache_content_keyed(tmp_path):
    p = _write(tmp_path, OFFER_DOC)
    key = content_key(p)
    assert key is not None
    INGEST_CACHE.put(key, "prune_cols", ["a", "b"])
    assert INGEST_CACHE.get(key, "prune_cols") == ["a", "b"]
    assert INGEST_CACHE.get(None, "prune_cols") is None
    time.sleep(0.01)
    _write(tmp_path, OFFER_DOC + " ")
    assert content_key(p) != key  # content changed -> new identity
    assert INGEST_CACHE.get(content_key(p), "prune_cols") is None
    assert content_key(str(tmp_path)) is None  # directories have no key


def test_reingest_conversion_identical_and_content_change_reflected(spark, tmp_path):
    from magicxml_spark.plans.convert import xml_to_csv

    path = _write(tmp_path, OFFER_DOC)
    out1 = str(tmp_path / "o1.csv")
    out2 = str(tmp_path / "o2.csv")
    xml_to_csv(spark, path, out1, single_file=True)
    b1 = open(out1, "rb").read()
    # with the earlier CSV gone, a steady-state re-ingest (schema + pivot
    # keys + prune cols + category paths all replay from cache) runs the
    # Spark path and must be byte-identical
    os.unlink(out1)
    xml_to_csv(spark, path, out2, single_file=True)
    assert b1 == open(out2, "rb").read()
    assert b"category_path" in b1
    # grow the feed: new param key must appear (stale pivot/prune caches
    # would silently drop it)
    time.sleep(0.01)
    _write(
        tmp_path,
        OFFER_DOC.replace(
            '<param name="Цвет">Blue</param>',
            '<param name="Цвет">Blue</param><param name="Материал">Wood</param>',
        ),
    )
    out3 = str(tmp_path / "o3.csv")
    xml_to_csv(spark, path, out3, single_file=True)
    header = open(out3, encoding="utf-8-sig").readline()
    assert "Материал" in header


def _big_offer_doc(n: int = 2000) -> str:
    return OFFER_DOC.replace(
        "</offers>",
        "".join(
            f'<offer id="x{i}"><name>N{i}</name><price>1</price></offer>'
            for i in range(n)
        )
        + "</offers>",
    )


@pytest.mark.parametrize("presplit", [False, True], ids=["small", "presplit"])
def test_same_size_rewrite_with_restored_mtime_is_reconverted(
    spark, tmp_path, monkeypatch, presplit
):
    # cp -p / rsync -a / tar rewrite a feed in place and restore its
    # mtime: a key on (path, size, mtime) would replay the old bytes'
    # presplit parts, category paths and pivot keys
    from magicxml_spark.plans import convert
    from magicxml_spark.sources.xml_source import read_xml_records as read

    if presplit:  # force the small fixture through the presplit path
        monkeypatch.setattr(
            convert, "read_xml_records", functools.partial(read, presplit_threshold=1024)
        )
    doc = _big_offer_doc() if presplit else OFFER_DOC
    doc = doc.replace("<price>10.00</price>", "<price>1999</price>")
    path = _write(tmp_path, doc)

    def convert_rows(name):
        out = str(tmp_path / name)
        convert.xml_to_csv(spark, path, out, single_file=True)
        with open(out, encoding="utf-8-sig", newline="") as f:
            return {r["attr_id"]: r for r in csv.DictReader(f, delimiter=";")}

    assert convert_rows("o1.csv")["10"]["price"] == "1999"
    if presplit:
        assert INGEST_CACHE.get(content_key(path), ("parts", "offer")) is not None

    st = os.stat(path)
    # same byte length: price 1999->2099, category Root->Base, param
    # name Цвет->Вкус (both 8 bytes in UTF-8)
    _write(
        tmp_path,
        doc.replace("<price>1999<", "<price>2099<")
        .replace(">Root<", ">Base<")
        .replace("Цвет", "Вкус"),
    )
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)

    row = convert_rows("o2.csv")["10"]
    assert row["price"] == "2099"
    assert row["category_path"] == "Base///Child"
    assert row["Вкус"] == "Red"
    assert "Цвет" not in row


def test_presplit_cache_reuses_parts_dir(spark, tmp_path):
    # content-keyed presplit reuse: same bytes -> same parts dir
    path = _write(tmp_path, _big_offer_doc(), "big.xml")
    key = content_key(path)
    from magicxml_spark.sources.xml_split import presplit_xml

    d1 = str(tmp_path / "parts")
    presplit_xml(path, d1, "offer")
    INGEST_CACHE.put(key, ("parts", "offer"), d1)
    # read path must reuse the cached dir instead of re-splitting
    # (threshold forced low so the small fixture takes the presplit path)
    df, _ = read_xml_records(spark, path, presplit_threshold=1024)
    assert INGEST_CACHE.get(key, ("parts", "offer")) == d1
    assert df.count() == 2002


def test_ingest_cache_bound_evicts_parts_dirs(spark, tmp_path, monkeypatch):
    bound = 2
    monkeypatch.setattr(INGEST_CACHE, "max_entries", bound)
    parts = []
    for i in range(bound + 1):
        path = _write(tmp_path, _big_offer_doc(50 + i), f"feed{i}.xml")
        read_xml_records(spark, path, presplit_threshold=1024)
        parts.append(INGEST_CACHE.get(content_key(path), ("parts", "offer")))
        assert os.path.isdir(parts[-1])
        assert len(INGEST_CACHE) <= bound
    # the least recently used feed was evicted together with its parts
    assert not os.path.exists(parts[0])
    assert all(os.path.isdir(d) for d in parts[1:])


def test_ingest_cache_concurrent_use_keeps_bound_and_dirs():
    import sys
    import threading

    from magicxml_spark.sources.schema_registry import IngestCache

    cache = IngestCache()
    cache.max_entries = 4
    roots, errors = set(), []

    def worker(seed):
        try:
            for i in range(150):
                key = f"k{(seed * 7 + i) % 23}"
                roots.add(os.path.dirname(os.path.dirname(cache.scratch_dir(key))))
                cache.put(key, "n", i)
                cache.get(key, "n")
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(cache) <= cache.max_entries
    (root,) = roots  # one temp root for every scratch directory
    # a lost eviction would leave an entry directory behind on disk
    assert len(os.listdir(root)) == len(cache)
    cache.clear()
    assert os.listdir(root) == []
