"""Ingest cache (re-ingest fast path) and re-reads of changed feeds.

The reference re-reads every feed at least twice (preview then
convert, main.py:1690-1770). These tests pin the load-bearing
behaviors: a feed rewritten in place converts exactly as its new bytes
do anywhere else, content-change invalidation of the ingest cache
(including same-size rewrites with a restored mtime) and the cache's
bound."""

from __future__ import annotations

import csv
import functools
import os
import time

import pytest

from magicxml_spark.sources.schema_registry import INGEST_CACHE, content_key
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
def _clean_cache():
    INGEST_CACHE.clear()
    yield
    INGEST_CACHE.clear()


def _write(tmp_path, body, name="feed.xml"):
    p = tmp_path / name
    p.write_text(body, encoding="utf-8")
    return str(p)


def test_schema_drift_falls_back_to_discovery(spark, tmp_path, monkeypatch):
    """A feed rewritten in place with a new tag converts exactly as the
    same bytes do at a new path — whether the tag shows in the head
    sample or only past it."""
    from magicxml_spark.plans import convert

    vendor = "<vendor>ACME</vendor>"
    grown = {
        "head": OFFER_DOC.replace("<name>A</name>", "<name>A</name>" + vendor),
        "late": OFFER_DOC.replace("<name>B</name>", "<name>B</name>" + vendor),
    }
    # the head sample holds the first offer whole and stops short of
    # the second offer's <vendor>
    head = grown["head"]
    sample = len(head[: head.index('<offer id="11"')].encode())
    monkeypatch.setattr(
        convert, "read_xml_records", functools.partial(read_xml_records, sample_bytes=sample)
    )
    for case, doc in grown.items():
        path = _write(tmp_path, OFFER_DOC, f"{case}.xml")
        convert.xml_to_csv(spark, path, str(tmp_path / f"{case}_before.csv"))
        time.sleep(0.01)
        _write(tmp_path, doc, f"{case}.xml")
        again = convert.xml_to_csv(spark, path, str(tmp_path / f"{case}_again.csv"))
        moved = _write(tmp_path, doc, f"{case}_moved.xml")
        fresh = convert.xml_to_csv(spark, moved, str(tmp_path / f"{case}_moved.csv"))
        header = open(again, encoding="utf-8-sig").readline().rstrip("\r\n").split(";")
        assert "vendor" in header, case  # a stale schema would drop it
        assert open(again, "rb").read() == open(fresh, "rb").read(), case


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
    INGEST_CACHE.put(key, ("csv", "offer"), ("out.csv", "k"))
    assert INGEST_CACHE.get(key, ("csv", "offer")) == ("out.csv", "k")
    assert INGEST_CACHE.get(None, ("csv", "offer")) is None
    time.sleep(0.01)
    _write(tmp_path, OFFER_DOC + " ")
    assert content_key(p) != key  # content changed -> new identity
    assert INGEST_CACHE.get(content_key(p), ("csv", "offer")) is None
    assert content_key(str(tmp_path)) is None  # directories have no key


def test_reingest_conversion_identical_and_content_change_reflected(spark, tmp_path):
    from magicxml_spark.plans.convert import xml_to_csv

    path = _write(tmp_path, OFFER_DOC)
    out1 = str(tmp_path / "o1.csv")
    xml_to_csv(spark, path, out1)
    assert b"category_path" in open(out1, "rb").read()
    # grow the feed: new param key must appear (a copy of o1.csv would
    # silently drop it)
    time.sleep(0.01)
    _write(
        tmp_path,
        OFFER_DOC.replace(
            '<param name="Цвет">Blue</param>',
            '<param name="Цвет">Blue</param><param name="Материал">Wood</param>',
        ),
    )
    out3 = str(tmp_path / "o3.csv")
    xml_to_csv(spark, path, out3)
    header = open(out3, encoding="utf-8-sig").readline()
    assert "Материал" in header


@pytest.mark.parametrize("encoding", ["utf-8", "windows-1251"], ids=["small", "windows-1251"])
def test_same_size_rewrite_with_restored_mtime_is_reconverted(spark, tmp_path, encoding):
    # cp -p / rsync -a / tar rewrite a feed in place and restore its
    # mtime: a key on (path, size, mtime) would serve the old bytes' CSV.
    # A windows-1251 feed is read from a UTF-8 copy of the new bytes.
    from magicxml_spark.plans.convert import xml_to_csv

    doc = OFFER_DOC.replace("<price>10.00</price>", "<price>1999</price>").replace(
        "encoding='utf-8'", f"encoding='{encoding}'"
    )
    path = str(tmp_path / "feed.xml")

    def write(text):
        with open(path, "wb") as f:
            f.write(text.encode(encoding))

    def convert_rows(name):
        out = str(tmp_path / name)
        xml_to_csv(spark, path, out)
        with open(out, encoding="utf-8-sig", newline="") as f:
            return {r["attr_id"]: r for r in csv.DictReader(f, delimiter=";")}

    write(doc)
    assert convert_rows("o1.csv")["10"]["price"] == "1999"

    st = os.stat(path)
    # same byte length: price 1999->2099, category Root->Base, param
    # name Цвет->Вкус (the same length in either encoding)
    write(
        doc.replace("<price>1999<", "<price>2099<")
        .replace(">Root<", ">Base<")
        .replace("Цвет", "Вкус")
    )
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)

    row = convert_rows("o2.csv")["10"]
    assert row["price"] == "2099"
    assert row["category_path"] == "Base///Child"
    assert row["Вкус"] == "Red"
    assert "Цвет" not in row


def test_ingest_cache_bound_evicts_parts_dirs(spark, tmp_path, monkeypatch):
    from magicxml_spark.plans.convert import xml_to_csv

    bound = 2
    monkeypatch.setattr(INGEST_CACHE, "max_entries", bound)
    paths = []
    for i in range(bound + 1):
        paths.append(_write(tmp_path, OFFER_DOC.replace("<name>A<", f"<name>A{i}<"), f"feed{i}.xml"))
        xml_to_csv(spark, paths[-1], str(tmp_path / f"feed{i}.csv"))
        assert len(INGEST_CACHE) <= bound
    # the least recently used feed was evicted
    assert INGEST_CACHE.get(content_key(paths[0]), ("csv", None)) is None
    assert all(INGEST_CACHE.get(content_key(p), ("csv", None)) for p in paths[1:])


def test_ingest_cache_concurrent_use_keeps_bound_and_dirs():
    import sys
    import threading

    from magicxml_spark.sources.schema_registry import IngestCache

    cache = IngestCache()
    cache.max_entries = 4
    errors = []

    def worker(seed):
        try:
            for i in range(150):
                key = f"k{(seed * 7 + i) % 23}"
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
