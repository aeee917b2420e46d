"""End-to-end conversion pipeline tests (SURVEY §3 lifecycles):
XML->CSV (flagship), CSV->XML (both formats), JSON->CSV, CSV->JSON,
plus pruning and sink format details."""

from __future__ import annotations

import csv
import io
import json
import os
import xml.etree.ElementTree as ET

import pytest

from magicxml_spark.plans.convert import (
    convert_file,
    csv_to_json,
    csv_to_xml,
    json_to_csv,
    xml_to_csv,
)
from magicxml_spark.sources.csv_source import read_csv, sniff_delimiter
from magicxml_spark.sources.schema_registry import INGEST_CACHE

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def outdir(tmp_path_factory):
    return tmp_path_factory.mktemp("convert")


def test_xml_to_csv_flagship(spark, outdir):
    out = str(outdir / "cat.csv")
    xml_to_csv(spark, f"{FIX}/cat.xml", out)
    raw = open(out, "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf")  # utf-8-sig BOM (K1)
    text = raw.decode("utf-8-sig")
    rows = list(csv.DictReader(io.StringIO(text), delimiter=";"))
    assert len(rows) == 2
    header = rows[0].keys()
    assert list(header) == sorted(header)  # Q8 sorted columns
    assert "delivery-options" not in header  # Q4 static exclude
    assert "oldprice" in header  # present for row 102
    byid = {r["attr_id"]: r for r in rows}
    assert byid["101"]["category_path"] == "Мебель///Диваны///Угловые"
    assert byid["101"]["Цвет"] == "Синий, Красный"
    assert byid["102"]["price"] == "500"


def test_csv_to_xml_yandex_roundtrip(spark, outdir):
    out = str(outdir / "out.xml")
    csv_to_xml(spark, f"{FIX}/input.csv", out, xml_format="yandex_market")
    root = ET.parse(out).getroot()
    assert root.tag == "yml_catalog"
    cats = root.findall(".//category")
    # Q9 dense ids: 2 distinct paths, first-seen order
    assert [(c.get("id"), c.text) for c in cats] == [
        ("1", "Мебель///Диваны"),
        ("2", "Мебель///Столы"),
    ]
    offers = root.findall(".//offer")
    assert [o.get("id") for o in offers] == ["1", "2", "3"]
    o1 = offers[0]
    assert o1.get("available") == "1"
    assert o1.findtext("categoryId") == "1"
    assert [p.text for p in o1.findall("picture")] == [
        "http://x/1.jpg",
        "http://x/2.jpg",
    ]
    assert o1.find("param").get("name") == "Цвет"
    # escaped quotes survive the XML trip
    assert root.findall(".//offer")[1].findtext("description") == 'Простой "стол"'


def test_csv_to_xml_simple(spark, outdir):
    out = str(outdir / "simple.xml")
    csv_to_xml(spark, f"{FIX}/input.csv", out, xml_format="simple")
    root = ET.parse(out).getroot()
    assert root.tag == "catalog"
    p1 = root.findall(".//product")[0]
    assert p1.get("id") == "1"
    assert [i.text for i in p1.findall("images/image")] == [
        "http://x/1.jpg",
        "http://x/2.jpg",
    ]
    assert p1.find("parameters/parameter").get("name") == "Цвет"


def test_json_to_csv_root_discovery(spark, outdir):
    out = str(outdir / "fromjson.csv")
    json_to_csv(spark, f"{FIX}/input.json", out)
    rows = list(
        csv.DictReader(
            io.StringIO(open(out, "rb").read().decode("utf-8-sig")), delimiter=";"
        )
    )
    # root discovery picked 'items'; nested objects dot-flattened (S8)
    assert len(rows) == 2
    assert rows[0]["nested.x"] == "10"
    assert rows[0]["name"] == "A"


# --- the CSV sink's bytes -----------------------------------------------------


def _written(tmp_path, df):
    from magicxml_spark.sinks.csv_sink import write_csv

    return open(write_csv(df, str(tmp_path / "out.csv")), "rb").read()


def test_csv_header_quotes_a_first_column_behind_the_bom(spark, tmp_path):
    """K1: the BOM comes before the quote of a first column that needs
    one, as the reference's utf-8-sig writer puts it."""
    df = spark.createDataFrame([("x", "y", 'q"z', "1")], ["A;B", 'A"B', "available", "b"])
    assert _written(tmp_path, df) == (
        b'\xef\xbb\xbf"A;B";"A""B";available;b\nx;y;"q""z";1\n'
    )


def test_csv_of_zero_rows_is_bom_and_header(spark, tmp_path):
    df = spark.createDataFrame([], "`A;B` string, b string")
    assert _written(tmp_path, df) == b'\xef\xbb\xbf"A;B";b\n'


def test_json_to_csv_keeps_input_order(spark, tmp_path):
    src = tmp_path / "rows.json"
    src.write_text(json.dumps([{"k": str(i), "v": f"v{i}"} for i in range(20, 0, -1)]))
    out = json_to_csv(spark, str(src), str(tmp_path / "rows.csv"))
    assert open(out, "rb").read() == b"\xef\xbb\xbfk;v\n" + b"".join(
        f"{i};v{i}\n".encode() for i in range(20, 0, -1)
    )


def test_csv_to_json_array(spark, outdir):
    out = str(outdir / "out.json")
    csv_to_json(spark, f"{FIX}/input.csv", out)
    doc = json.loads(open(out, encoding="utf-8").read())
    assert isinstance(doc, list) and len(doc) == 3
    assert doc[0]["name"] == "Диван"


def test_convert_file_dispatch(spark, outdir):
    out = str(outdir / "dispatch.xml")
    convert_file(spark, f"{FIX}/input.csv", out)
    assert ET.parse(out).getroot().tag == "yml_catalog"


def test_delimiter_sniffing(spark):
    assert sniff_delimiter("a;b;c") == ";"
    assert sniff_delimiter("a,b,c") == ","
    assert sniff_delimiter("a,b;c;d") == ";"  # ties/less go ';'
    df = read_csv(spark, f"{FIX}/input.csv")
    assert df.columns[0] == "id" and df.count() == 3


def test_csv_to_xml_positional_id_fallback(spark, outdir, tmp_path_factory):
    # Q10: rows without an id column get positional ids 1..n
    src = tmp_path_factory.mktemp("noid") / "noid.csv"
    src.write_text("name;price\nA;1\nB;2\nC;3\n")
    out = str(outdir / "noid.xml")
    csv_to_xml(spark, str(src), out, xml_format="simple")
    root = ET.parse(out).getroot()
    assert [p.get("id") for p in root.findall(".//product")] == ["1", "2", "3"]


def test_empty_csv_rejected(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("empty") / "empty.csv"
    src.write_text("")
    with pytest.raises(ValueError, match="CSV data is empty"):
        csv_to_xml(spark, str(src), "/tmp/never.xml")


def test_csv_without_categories_to_yml(spark, outdir, tmp_path_factory):
    src = tmp_path_factory.mktemp("nocat") / "nocat.csv"
    src.write_text("id;name;price\n7;Стул;10\n")
    out = str(outdir / "nocat.xml")
    csv_to_xml(spark, str(src), out, xml_format="yandex_market")
    root = ET.parse(out).getroot()
    assert root.findall(".//category") == []
    offer = root.find(".//offer")
    assert offer.get("id") == "7" and offer.findtext("name") == "Стул"


def test_null_id_and_category_id_column(spark, outdir, tmp_path_factory):
    # empty id cell -> id="" (reference DictReader parity); an input
    # category_id column must not collide with the dimension join
    src = tmp_path_factory.mktemp("nullid") / "n.csv"
    src.write_text("id;name;category_path;category_id\n;A;X;77\n2;B;X;78\n")
    out = str(outdir / "nullid.xml")
    csv_to_xml(spark, str(src), out, xml_format="yandex_market")
    root = ET.parse(out).getroot()
    offers = root.findall(".//offer")
    assert [o.get("id") for o in offers] == ["", "2"]
    assert all(o.findtext("categoryId") == "1" for o in offers)


def test_oversized_category_dimension_stays_uncached(
    spark, outdir, tmp_path_factory, monkeypatch
):
    """VERDICT r3 #3: a category dimension larger than
    ``xml_source.CATEGORY_MAX_ROWS`` must NOT be collect()ed to the
    driver (``read_categories``' limit(cap+1) guard) — and the
    conversion output must be identical either way."""
    from magicxml_spark.sources import xml_source

    n = 8
    cats = "\n".join(
        '<category id="{}"{}>C{}</category>'.format(
            i, f' parentId="{i - 1}"' if i > 1 else "", i
        )
        for i in range(1, n + 1)
    )
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n<yml_catalog><shop>'
        f"<categories>\n{cats}\n</categories>"
        '<offers><offer id="1"><name>A</name><price>10</price>'
        f"<categoryId>{n}</categoryId></offer></offers>"
        "</shop></yml_catalog>"
    )
    src = tmp_path_factory.mktemp("bigcat") / "big.xml"
    src.write_text(xml, encoding="utf-8")

    def run(tag):
        INGEST_CACHE.clear()  # convert again; do not copy the earlier CSV
        out = str(outdir / f"bigcat_{tag}.csv")
        xml_to_csv(spark, str(src), out)
        return open(out, "rb").read()

    baseline = run("cached")  # cap 100k: dimension collected as before
    assert isinstance(xml_source.read_categories(spark, str(src)), list)  # driver rows

    monkeypatch.setattr(xml_source, "CATEGORY_MAX_ROWS", n - 3)
    capped = run("uncached")  # cap 5 < 8: must stay a lazy frame
    assert xml_source.read_categories(spark, str(src)).inputFiles()  # re-scans the file
    assert capped == baseline
    path_col = [r for r in csv.DictReader(
        io.StringIO(capped.decode("utf-8-sig")), delimiter=";"
    )][0]["category_path"]
    assert path_col == "///".join(f"C{i}" for i in range(1, n + 1))


DIALECT_FEEDS = ("cat.xml", "products.xml", "c1.xml", "svc.xml")


def _fresh_copy(tmp_path, name):
    """A copy has its own content key, so no earlier CSV is copied."""
    dst = tmp_path / name
    dst.write_bytes(open(f"{FIX}/{name}", "rb").read())
    return str(dst)


def test_failed_conversion_leaves_nothing_cached(spark, tmp_path, monkeypatch):
    from magicxml_spark.plans import convert

    def boom(*args, **kwargs):
        raise RuntimeError("category build failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(convert, "build_category_paths", boom)
    with pytest.raises(RuntimeError, match="category build failed"):
        xml_to_csv(spark, _fresh_copy(tmp_path, "cat.xml"), str(tmp_path / "o.csv"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("feed", DIALECT_FEEDS)
def test_output_independent_of_shuffle_partitions(spark, tmp_path, feed):
    src = _fresh_copy(tmp_path, feed)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for n in (1, 64):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            INGEST_CACHE.clear()  # converted at n, not copied
            out = str(tmp_path / f"out_{n}.csv")
            xml_to_csv(spark, src, out)
            outs.append(open(out, "rb").read())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert outs[0] == outs[1]


def _ordered_offer_feed(path, n, encoding="UTF-8"):
    """``n`` offers with ids 0..n-1 in document order."""
    offers = "".join(
        f'<offer id="{i}"><name>N{i}</name><price>{i}</price>'
        f"<description>{'d' * i}</description></offer>\n"
        for i in range(n)
    )
    path.write_text(
        f'<?xml version="1.0" encoding="{encoding}"?>\n<yml_catalog><shop>'
        f"<offers>\n{offers}</offers></shop></yml_catalog>",
        encoding="utf-8",
    )
    return str(path)


@pytest.mark.parametrize("encoding", ["UTF-8", "windows-1251"], ids=["one-partition", "utf8-copy"])
def test_rows_in_document_order(spark, tmp_path, encoding):
    """SURVEY §3.1 steps 5-7: rows come out in the feed's order, both
    when Spark reads the feed itself and when it reads the UTF-8 copy
    of a feed whose declaration names another encoding."""
    n = 600
    src = _ordered_offer_feed(tmp_path / "ordered.xml", n, encoding)
    out = xml_to_csv(spark, src, str(tmp_path / "ordered.csv"))
    with open(out, encoding="utf-8-sig", newline="") as f:
        ids = [r["attr_id"] for r in csv.DictReader(f, delimiter=";")]
    assert ids == [str(i) for i in range(n)]


def _russian_feed(n, prolog_encoding="UTF-8", pad=0):
    """A 1C feed of ``n`` records named 'Диван {i}', in document order."""
    records = "".join(
        f"<ЭлементСправочника><ID>E-{i}</ID><Наименование>Диван {i}</Наименование>"
        "</ЭлементСправочника>\n"
        for i in range(n)
    )
    encoding = f' encoding="{prolog_encoding}"' if prolog_encoding else ""
    return (
        f'<?xml version="1.0"{encoding}?>\n<Корневой>{" " * pad}\n'
        f"{records}</Корневой>"
    )


def _names(path):
    with open(path, encoding="utf-8-sig", newline="") as f:
        return [r["name"] for r in csv.DictReader(f, delimiter=";")]


def test_utf8_feed_cut_inside_a_character_by_the_head_sample(spark, tmp_path):
    """S2: the 1 MiB head sample of a valid UTF-8 feed can end inside a
    multi-byte character; the sample still decodes as UTF-8, so the 1C
    markers are found and the feed converts."""
    n = 12_000
    for pad in range(64):
        data = _russian_feed(n, pad=pad).encode("utf-8")
        if data[1 << 20] & 0xC0 == 0x80:  # a continuation byte: the cut splits a character
            break
    assert len(data) > 1 << 20 and data[1 << 20] & 0xC0 == 0x80
    src = tmp_path / "c1_utf8.xml"
    src.write_bytes(data)
    out = xml_to_csv(spark, str(src), str(tmp_path / "c1.csv"))
    assert _names(out) == [f"Диван {i}" for i in range(n)]


ENCODED_FEEDS = {
    # the reader's schema inference assumes UTF-8 and fails on 0xee
    "undeclared-1251": lambda n: _russian_feed(n, prolog_encoding=None).encode("cp1251"),
    # a bare '&' sends it to the repair re-read, whose UTF-8 copy must
    # not keep the windows-1251 declaration
    "declared-1251-bare-amp": lambda n: _russian_feed(n, prolog_encoding="windows-1251")
    .replace("Диван 0<", "Диван & 0<")
    .encode("cp1251"),
    # the cascade decodes the bytes as UTF-8, whatever the declaration says
    "utf8-declared-1251": lambda n: _russian_feed(n, prolog_encoding="windows-1251").encode(
        "utf-8"
    ),
}


@pytest.mark.parametrize("case", ENCODED_FEEDS)
def test_feed_decoded_by_the_cascade(spark, tmp_path, case):
    """S2: a feed whose bytes are not UTF-8, or whose declaration names
    another encoding, converts as the reference's decode cascade reads it."""
    n = 200
    src = tmp_path / "c1.xml"
    src.write_bytes(ENCODED_FEEDS[case](n))
    out = xml_to_csv(spark, str(src), str(tmp_path / "c1.csv"))
    want = [f"Диван {i}" for i in range(n)]
    if case == "declared-1251-bare-amp":
        want[0] = "Диван & 0"
    assert _names(out) == want


# --- the category dimension -----------------------------------------------------


def _offer_feed(categories, first_name="N1", encoding="UTF-8"):
    """Two offers in categories 1 and 2, after a <categories> element
    holding ``categories`` (none when ``categories`` is None)."""
    offers = "".join(
        f'<offer id="{i}"><name>{name}</name><price>1{i}</price>'
        f"<categoryId>{i}</categoryId></offer>"
        for i, name in ((1, first_name), (2, "N2"))
    )
    cats = "" if categories is None else f"<categories>{categories}</categories>"
    return (
        f'<?xml version="1.0" encoding="{encoding}"?>\n'
        f"<yml_catalog><shop>{cats}<offers>{offers}</offers></shop></yml_catalog>"
    )


NO_PATH = "attr_id;available;categoryId;name;price\n1;1;1;{};11\n2;1;2;N2;12\n"
WITH_PATH = (
    "attr_id;available;categoryId;category_path;name;price\n1;1;1;{};{};11\n2;1;2;{};N2;12\n"
)
CATEGORY_FEEDS = {
    "no-category": (None, "N1", NO_PATH.format("N1")),
    "no-id": (
        '<category>Foo</category><category parentId="1">Bar</category>',
        "N1",
        NO_PATH.format("N1"),
    ),
    "name-child": (
        '<category id="1"><name>Phones</name></category>'
        '<category id="2" parentId="1">Sub</category>',
        "N1",
        WITH_PATH.format("Undefined", "N1", "Sub"),
    ),
    # the document parses only after repair, and the categories are
    # read from the same repaired text
    "bare-amp-in-category": (
        '<category id="1">R & D</category><category id="2" parentId="1">Kid</category>',
        "A & B",
        WITH_PATH.format("R & D", "A & B", "R & D///Kid"),
    ),
    "bare-amp-in-offer": (
        '<category id="1">Root</category><category id="2" parentId="1">Kid</category>',
        "A & B",
        WITH_PATH.format("Root", "A & B", "Root///Kid"),
    ),
}


@pytest.mark.parametrize("case", CATEGORY_FEEDS)
def test_category_edge_feeds(spark, tmp_path, case):
    categories, first_name, want = CATEGORY_FEEDS[case]
    src = tmp_path / "feed.xml"
    src.write_text(_offer_feed(categories, first_name), encoding="utf-8")
    out = xml_to_csv(spark, str(src), str(tmp_path / "feed.csv"))
    assert open(out, encoding="utf-8", newline="").read() == "\ufeff" + want


def test_xml_to_json_reads_the_repaired_copy(spark, tmp_path):
    """A feed that parses only after repair is written from its repaired
    copy, which lives until the route has written the JSON."""
    src = tmp_path / "feed.xml"
    src.write_text(_offer_feed('<category id="1">Root</category>', "A & B"), encoding="utf-8")
    out = convert_file(spark, str(src), str(tmp_path / "feed.json"))
    with open(out, encoding="utf-8") as f:
        assert sorted(d["name"] for d in json.load(f)) == ["A & B", "N2"]


def test_read_categories_launches_one_job(spark):
    from magicxml_spark.sources.xml_source import read_categories

    rows, jobs = _jobs_during(spark, lambda: read_categories(spark, f"{FIX}/cat.xml"))
    assert len(jobs) == 1
    assert [tuple(r) for r in rows] == [
        ("1", None, "Мебель"),
        ("2", "1", "Диваны"),
        ("3", "2", "Угловые"),
    ]


def test_fresh_offer_conversion_job_count(spark, tmp_path):
    """The Spark jobs of one fresh cat.xml conversion (records read,
    one category read, pivot-key scans, Q5 prune aggregate, write): a
    change that adds or drops an action shows here first."""
    src = _fresh_copy(tmp_path, "cat.xml")
    _, jobs = _jobs_during(spark, lambda: xml_to_csv(spark, src, str(tmp_path / "cat.csv")))
    assert len(jobs) == 12


def test_offer_feed_encoding_decided_once(spark, tmp_path, monkeypatch):
    """S2: one fresh conversion of a windows-1251 offer feed with
    categories checks the cascade's encodings once, and the record read
    and the category read share one UTF-8 copy."""
    from magicxml_spark.sources import xml_source

    checked = []
    decodes = xml_source._decodes

    def counted(path, encoding):
        checked.append(encoding)
        return decodes(path, encoding)

    monkeypatch.setattr(xml_source, "_decodes", counted)
    src = tmp_path / "w1251.xml"
    cats = (
        '<category id="1">Мебель</category><category id="2" parentId="1">Диваны</category>'
    )
    src.write_bytes(_offer_feed(cats, encoding="windows-1251").encode("cp1251"))
    out = xml_to_csv(spark, str(src), str(tmp_path / "w1251.csv"))
    assert open(out, encoding="utf-8", newline="").read() == "\ufeff" + WITH_PATH.format(
        "Мебель", "N1", "Мебель///Диваны"
    )
    assert checked == ["utf-8", "windows-1251"]


# --- the re-ingest memo: an unchanged CSV is copied -------------------------


def _jobs_during(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it launched."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("feed", DIALECT_FEEDS)
def test_reingest_copies_earlier_csv_without_spark_job(spark, tmp_path, feed):
    src = _fresh_copy(tmp_path, feed)
    first = xml_to_csv(spark, src, str(tmp_path / "first.csv"))
    for dst in (tmp_path / "again.csv", tmp_path / "new" / "dir" / "again.csv"):
        got, jobs = _jobs_during(spark, lambda: xml_to_csv(spark, src, str(dst)))
        assert got == str(dst)
        assert jobs == []
        assert open(got, "rb").read() == open(first, "rb").read()


def test_reingest_onto_earlier_csv_leaves_it_untouched(spark, tmp_path):
    src = _fresh_copy(tmp_path, "cat.xml")
    first = xml_to_csv(spark, src, str(tmp_path / "first.csv"))
    before = os.stat(first)
    got, jobs = _jobs_during(spark, lambda: xml_to_csv(spark, src, first))
    after = os.stat(first)
    assert got == first and jobs == []
    assert (after.st_ino, after.st_mtime_ns, after.st_ctime_ns) == (
        before.st_ino,
        before.st_mtime_ns,
        before.st_ctime_ns,
    )


def _edit_in_place(path):
    with open(path, "r+b") as f:
        f.seek(-2, os.SEEK_END)
        f.write(b"XX")


def _replace(path):
    data = open(path, "rb").read()
    os.unlink(path)
    with open(path, "wb") as f:
        f.write(data)


@pytest.mark.parametrize(
    "change", [_edit_in_place, _replace, os.unlink], ids=["edited", "replaced", "deleted"]
)
def test_reingest_after_earlier_csv_changed_reconverts(spark, tmp_path, change):
    src = _fresh_copy(tmp_path, "cat.xml")
    first = xml_to_csv(spark, src, str(tmp_path / "first.csv"))
    want = open(first, "rb").read()
    change(first)
    got, jobs = _jobs_during(spark, lambda: xml_to_csv(spark, src, str(tmp_path / "again.csv")))
    assert jobs
    assert open(got, "rb").read() == want


def test_reingest_of_source_rewritten_with_restored_mtime_reconverts(spark, tmp_path):
    src = _fresh_copy(tmp_path, "cat.xml")
    first = xml_to_csv(spark, src, str(tmp_path / "first.csv"))
    assert b";500;" in open(first, "rb").read()
    st = os.stat(src)
    data = open(src, "rb").read()
    with open(src, "wb") as f:  # same size, same mtime, new price
        f.write(data.replace(b"<price>500<", b"<price>700<"))
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert (os.stat(src).st_size, os.stat(src).st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    got, jobs = _jobs_during(spark, lambda: xml_to_csv(spark, src, str(tmp_path / "again.csv")))
    assert jobs
    out = open(got, "rb").read()
    assert b";700;" in out and b";500;" not in out


def test_reingest_under_another_dialect_request_reconverts(spark, tmp_path):
    src = _fresh_copy(tmp_path, "cat.xml")
    first = xml_to_csv(spark, src, str(tmp_path / "first.csv"))
    got, jobs = _jobs_during(
        spark, lambda: xml_to_csv(spark, src, str(tmp_path / "offer.csv"), dialect="offer")
    )
    assert jobs
    assert open(got, "rb").read() == open(first, "rb").read()
    _, jobs = _jobs_during(
        spark, lambda: xml_to_csv(spark, src, str(tmp_path / "again.csv"), dialect="offer")
    )
    assert jobs == []


def test_conversion_that_raises_records_no_csv(spark, tmp_path, monkeypatch):
    from magicxml_spark.plans import convert

    def write_then_fail(*args, **kwargs):
        convert_write(*args, **kwargs)
        raise RuntimeError("write failed")

    convert_write = convert.write_csv
    src = _fresh_copy(tmp_path, "cat.xml")
    monkeypatch.setattr(convert, "write_csv", write_then_fail)
    with pytest.raises(RuntimeError, match="write failed"):
        xml_to_csv(spark, src, str(tmp_path / "first.csv"))
    monkeypatch.setattr(convert, "write_csv", convert_write)
    _, jobs = _jobs_during(spark, lambda: xml_to_csv(spark, src, str(tmp_path / "again.csv")))
    assert jobs


# --- convert_file's route table ----------------------------------------------


BOOK_ROWS = [["1", "Стул"], ["2", "Стол"]]


def _make_sources(d):
    """One small input per source extension the route table keys on."""
    from magicxml_spark.sources import jpeg_lite, pdf_lite, png_lite, xlsx_lite

    (d / "rows.csv").write_text("id;name;price\n1;Стул;10\n2;Стол;20\n", encoding="utf-8")
    for ext in ("xlsx", "xls"):
        xlsx_lite.write_rows(str(d / f"book.{ext}"), ["id", "name"], BOOK_ROWS)
    w, h = 12, 8
    rgb = bytes(
        (x * 20 + y * 7 + c * 50) % 256 for y in range(h) for x in range(w) for c in range(3)
    )
    (d / "img.png").write_bytes(png_lite.encode_png(w, h, "RGB", rgb))
    jpg = jpeg_lite.encode_jpeg(w, h, "RGB", rgb, quality=90)
    (d / "img.jpg").write_bytes(jpg)
    (d / "img.jpeg").write_bytes(jpg)
    (d / "one.pdf").write_bytes(pdf_lite.write_table_pdf(["id", "name"], [["1", "a"], ["2", "b"]]))
    many = [[str(i), f"row {i}"] for i in range(120)]  # past one page
    (d / "many.pdf").write_bytes(pdf_lite.write_table_pdf(["id", "name"], many))
    (d / "cat.xml").write_bytes(open(f"{FIX}/cat.xml", "rb").read())


def _content(path):
    """What a conversion wrote: rows for tabular targets (an xlsx or zip
    package embeds its write time), bytes otherwise."""
    import zipfile

    from magicxml_spark.sources import xlsx_lite

    ext = os.path.splitext(path)[1]
    if ext == ".csv":
        header, *rows = csv.reader(
            io.StringIO(open(path, "rb").read().decode("utf-8-sig")), delimiter=";"
        )
        return header, sorted(rows)
    if ext == ".json":
        with open(path, encoding="utf-8") as f:
            return sorted(json.dumps(d, sort_keys=True) for d in json.load(f))
    if ext == ".xlsx":
        return xlsx_lite.read_rows(path)
    if ext == ".zip":
        with zipfile.ZipFile(path) as zf:
            return {n: zf.read(n) for n in zf.namelist()}
    return open(path, "rb").read()


def _direct(spark, keep, src, dst):
    """Each new route's converter called directly, writing ``dst``."""
    from magicxml_spark.sinks.csv_sink import write_csv
    from magicxml_spark.sinks.json_sink import (
        write_json_array,
        write_json_documents,
        xml_records_to_json,
    )
    from magicxml_spark.sources import binary_docs as bd
    from magicxml_spark.sources.excel import excel_to_pdf, write_excel
    from magicxml_spark.sources.xml_source import read_xml_records

    s, d = os.path.splitext(src)[1], os.path.splitext(dst)[1]

    def payload(df, col):
        with open(dst, "wb") as f:
            f.write(df.collect()[0][col])
        return dst

    if s == ".csv" and d == ".xlsx":
        return write_excel(read_csv(spark, src), dst)
    if s == ".csv" and d == ".pdf":
        return bd.render_pdf_report(read_csv(spark, src), dst)
    if s in (".xlsx", ".xls"):
        return excel_to_pdf(spark, src, dst)
    if s == ".xml":
        return write_json_documents(xml_records_to_json(read_xml_records(spark, src, keep)[0]), dst)
    binary = bd.read_binary(spark, src)
    if d == ".pdf":
        return payload(bd.image_to_pdf(binary), "pdf_content")
    if s == ".png" and d == ".jpg":
        return payload(bd.png_to_jpg(binary), "jpg_content")
    if d == ".csv":
        return write_csv(bd.extract_pdf_tables(binary), dst)
    if d == ".json":
        return write_json_array(bd.extract_pdf_documents(binary), dst)
    out_dir = os.path.dirname(dst)
    (written,) = bd.write_image_outputs(bd.pdf_to_images(binary, output_format=d[1:]), out_dir)
    return written


ROUTE_CASES = [
    ("rows.csv", ".xlsx"),
    ("rows.csv", ".pdf"),
    ("book.xlsx", ".pdf"),
    ("book.xls", ".pdf"),
    ("img.png", ".pdf"),
    ("img.jpg", ".pdf"),
    ("img.jpeg", ".pdf"),
    ("img.png", ".jpg"),
    ("one.pdf", ".png"),
    ("one.pdf", ".jpg"),
    ("many.pdf", ".png"),
    ("one.pdf", ".csv"),
    ("one.pdf", ".json"),
    ("cat.xml", ".json"),
]


@pytest.mark.parametrize(
    "name,target", ROUTE_CASES, ids=[f"{n}->{t}" for n, t in ROUTE_CASES]
)
def test_convert_file_route_matches_converter(spark, keep, tmp_path, name, target):
    _make_sources(tmp_path)
    src = str(tmp_path / name)
    (tmp_path / "via").mkdir()
    (tmp_path / "direct").mkdir()
    stem = os.path.splitext(name)[0]
    got = convert_file(spark, src, str(tmp_path / "via" / f"{stem}{target}"))
    want = _direct(spark, keep, src, str(tmp_path / "direct" / f"{stem}{target}"))
    assert os.path.splitext(got)[1] == os.path.splitext(want)[1]
    assert _content(got) == _content(want)
    if name == "many.pdf":
        assert got.endswith("many.zip") and len(_content(got)) == 3  # one image per page


def test_convert_file_default_routes(spark, tmp_path):
    """A pair outside the table takes its source extension's default:
    the same output the default plan writes when called directly."""
    _make_sources(tmp_path)
    (tmp_path / "rows.json").write_text('{"items": [{"id": 1, "name": "A"}]}', encoding="utf-8")
    cases = [
        ("rows.csv", "catalog.txt", lambda src, dst: csv_to_xml(spark, src, dst)),
        ("rows.json", "rows.csv", lambda src, dst: json_to_csv(spark, src, dst)),
        ("rows.json", "rows.xml", lambda src, dst: json_to_csv(spark, src, dst)),
        ("cat.xml", "cat.csv", lambda src, dst: xml_to_csv(spark, src, dst)),
        ("cat.xml", "cat.yml", lambda src, dst: xml_to_csv(spark, src, dst)),
    ]
    for name, out, plan in cases:
        src = str(tmp_path / name)
        INGEST_CACHE.clear()  # each call converts; none copies an earlier CSV
        got = convert_file(spark, src, str(tmp_path / f"via_{out}"))
        INGEST_CACHE.clear()
        want = plan(src, str(tmp_path / f"direct_{out}"))
        assert open(got, "rb").read() == open(want, "rb").read(), (name, out)
    for ext in ("xlsx", "xls"):
        got = convert_file(spark, str(tmp_path / f"book.{ext}"), str(tmp_path / f"book_{ext}.csv"))
        assert _content(got) == (["id", "name"], BOOK_ROWS)


def test_convert_file_url_source(spark, tmp_path):
    """S1: an http(s) source is fetched, then routed like the file."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    feed = open(f"{FIX}/cat.xml", "rb").read()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            self.send_response(200)
            self.send_header("Content-Type", "application/xml")
            self.end_headers()
            self.wfile.write(feed)

        def log_message(self, *args):
            pass

    httpd = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        got = convert_file(
            spark, f"http://127.0.0.1:{httpd.server_port}/feed.xml", str(tmp_path / "url.csv")
        )
    finally:
        httpd.shutdown()
        t.join(timeout=10)
    assert not t.is_alive()
    want = xml_to_csv(spark, f"{FIX}/cat.xml", str(tmp_path / "file.csv"))
    assert open(got, "rb").read() == open(want, "rb").read()
