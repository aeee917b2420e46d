"""Sinks/sources unit tests: pruning, K7 conventions, Excel gating."""

from __future__ import annotations

import json
import os


from magicxml_spark.operators.pruning import select_output_columns
from magicxml_spark.sinks.json_sink import xml_records_to_json

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_prune_columns(spark):
    df = spark.createDataFrame(
        [("a", "", "Undefined", "x", "1", "keep"), ("b", " ", "Undefined", "y", "2", "")],
        schema="name string, blank string, undef string, `z.col` string, "
        "`42` string, `Размер` string",
    )
    cols = select_output_columns(df)
    assert "blank" not in cols  # Q5 all-blank
    assert "undef" not in cols  # Q5 all-Undefined
    assert "42" not in cols  # Q7 digit-named
    assert "Размер" in cols  # Q6 important override
    assert cols == sorted(cols)  # Q8


def test_xml_to_json_conventions(spark, keep):
    df, _ = __import__(
        "magicxml_spark.sources.xml_source", fromlist=["read_xml_records"]
    ).read_xml_records(spark, f"{FIX}/cat.xml", keep)
    docs = [json.loads(r["json"]) for r in xml_records_to_json(df).collect()]
    byid = {d["@id"]: d for d in docs}
    assert byid["101"]["@available"] == "1"  # @attr prefix (K7)
    assert byid["101"]["param"][0]["#text"] == "Синий"  # #text + list promotion
    assert byid["101"]["param"][0]["@name"] == "Цвет"


def test_excel_roundtrip_real_path(spark, tmp_path):
    """S7/K5 are REAL in every environment: openpyxl when present,
    xlsx_lite (pure-stdlib ECMA-376 subset) otherwise. Write a
    DataFrame with unicode, XML-special chars, and empties, read it
    back, and get identical strings."""
    from magicxml_spark.sources import excel

    rows = [
        ("Диван «Мечта»", "1234.50", 'quote " amp & lt <'),
        ("", "500", "semi;colon"),
    ]
    df = spark.createDataFrame(rows, ["name", "price", "notes"])
    out = str(tmp_path / "x.xlsx")
    assert excel.write_excel(df, out) == out
    back = excel.read_excel(spark, out)
    assert back.columns == ["name", "price", "notes"]
    assert sorted(tuple(r) for r in back.collect()) == sorted(rows)


def test_xlsx_lite_package_structure_and_widths(tmp_path):
    """The lite writer emits a complete OOXML package (content types,
    package+workbook rels, workbook, sheet) and the reference's
    auto-width rule min(max_len + 2, 50) (main.py:683-718)."""
    import zipfile
    import xml.etree.ElementTree as ET

    from magicxml_spark.sources import xlsx_lite

    out = str(tmp_path / "w.xlsx")
    xlsx_lite.write_rows(out, ["short", "long"], [["ab", "x" * 200]])
    with zipfile.ZipFile(out) as zf:
        names = set(zf.namelist())
        assert {
            "[Content_Types].xml",
            "_rels/.rels",
            "xl/workbook.xml",
            "xl/_rels/workbook.xml.rels",
            "xl/worksheets/sheet1.xml",
        } <= names
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    widths = [c.get("width") for c in sheet.iter(f"{ns}col")]
    assert widths == ["7", "50"]  # len('short')+2, capped at 50


def test_xlsx_lite_reads_shared_strings_and_sparse_rows(tmp_path):
    """Reader compatibility with files real Excel writes: shared-string
    cells (t='s'), numbers, booleans, and sparse rows addressed only by
    cell reference — hand-built package, no writer round-trip crutch."""
    import zipfile

    from magicxml_spark.sources import xlsx_lite

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    out = str(tmp_path / "ext.xlsx")
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c></row>'
        # sparse row: B2 missing entirely; C2 numeric; D2 boolean
        '<row r="2"><c r="A2" t="s"><v>3</v></c><c r="C2"><v>42.5</v></c>'
        '<c r="D2" t="b"><v>1</v></c></row>'
        "</sheetData></worksheet>"
    )
    shared = (
        f'<sst xmlns="{ns}" count="4" uniqueCount="4">'
        "<si><t>id</t></si><si><t>name</t></si><si><t>val</t></si>"
        "<si><r><t>rich</t></r><r><t> text</t></r></si></sst>"
    )
    with zipfile.ZipFile(out, "w") as zf:
        zf.writestr("[Content_Types].xml", xlsx_lite._CONTENT_TYPES)
        zf.writestr("_rels/.rels", xlsx_lite._PKG_RELS)
        zf.writestr("xl/workbook.xml", xlsx_lite._workbook_xml("S1"))
        zf.writestr("xl/_rels/workbook.xml.rels", xlsx_lite._WB_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", shared)
    header, rows = xlsx_lite.read_rows(out)
    assert header == ["id", "name", "val", ""]
    assert rows == [["rich text", "", "42.5", "True"]]


def test_convert_file_xlsx_to_csv(spark, tmp_path):
    """§3.2 extension dispatch: .xlsx -> ';'-CSV end-to-end over the
    real Excel path."""
    import csv
    import io

    from magicxml_spark.plans.convert import convert_file
    from magicxml_spark.sources import excel

    df = spark.createDataFrame([("1", "Стул"), ("2", "Стол")], ["id", "name"])
    src = str(tmp_path / "in.xlsx")
    excel.write_excel(df, src)
    dst = str(tmp_path / "out.csv")
    convert_file(spark, src, dst)
    text = open(dst, "rb").read().decode("utf-8-sig")
    rows = list(csv.DictReader(io.StringIO(text), delimiter=";"))
    assert {(r["id"], r["name"]) for r in rows} == {("1", "Стул"), ("2", "Стол")}


def test_encoding_cascade_1251(spark, tmp_path):
    """S2: declaration-less windows-1251 XML decodes through the cascade
    end-to-end, its category tree included."""
    import csv

    from magicxml_spark.plans.convert import xml_to_csv

    xml = (
        "<yml_catalog><shop><categories><category id='1'>Мебель</category>"
        "<category id='2' parentId='1'>Диваны</category></categories><offers>"
        "<offer id='1'><name>Привет Мир</name><price>5</price><categoryId>2</categoryId></offer>"
        "</offers></shop></yml_catalog>"
    )
    src = tmp_path / "cp1251.xml"
    src.write_bytes(xml.encode("windows-1251"))
    out = xml_to_csv(spark, str(src), str(tmp_path / "out.csv"))
    with open(out, encoding="utf-8-sig", newline="") as f:
        (row,) = csv.DictReader(f, delimiter=";")
    assert (row["name"], row["category_path"]) == ("Привет Мир", "Мебель///Диваны")


def _converted_rows(spark, tmp_path, doc):
    import csv

    from magicxml_spark.plans.convert import xml_to_csv

    src = tmp_path / "feed.xml"
    src.write_text(doc, encoding="utf-8")
    out = xml_to_csv(spark, str(src), str(tmp_path / "feed.csv"))
    with open(out, encoding="utf-8-sig", newline="") as f:
        return list(csv.DictReader(f, delimiter=";"))


def test_xml_read_ignores_comments_and_selfclose(spark, tmp_path):
    """A row-tag lookalike in a comment neither opens nor cuts a
    record, and a self-closing record is a row of its own."""
    doc = (
        "<offers><offer id='1'><a>x</a><!-- <offer promo> --><b>y</b></offer>"
        "<offer id='2'/></offers>"
    )
    rows = _converted_rows(spark, tmp_path, doc)
    assert [r["attr_id"] for r in rows] == ["1", "2"]
    assert rows[0]["b"] == "y"  # the comment did not truncate record 1


def test_xml_read_ignores_close_tags_in_comments_and_cdata(spark, tmp_path):
    """A row tag's close tag inside a comment or a CDATA section does
    not end the record."""
    doc = (
        "<offers>"
        + "".join(
            f"<offer id='{i}'><!-- </offer> --><p><![CDATA[</offer>]]></p></offer>"
            for i in range(50)
        )
        + "</offers>"
    )
    rows = _converted_rows(spark, tmp_path, doc)
    assert [r["attr_id"] for r in rows] == [str(i) for i in range(50)]
    assert {r["p"] for r in rows} == {"</offer>"}


# ---------------------------------------------------------------------------
# WARC web-archive source (round 5: Common Crawl-shaped ingestion)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# RIFF media: WAV and MJPEG-AVI codecs
# ---------------------------------------------------------------------------


def test_wav_chunk_audio_real_path():
    """riff_media's WAV codec round-trips integer PCM (mono 16-bit and
    stereo 8-bit) and rejects junk."""
    import struct as st

    from magicxml_spark.sources.riff_media import decode_wav, encode_wav

    rate, seconds = 8000, 2.5
    n = int(rate * seconds)
    pcm = b"".join(
        st.pack("<h", int(10000 * ((i * 37) % 200 - 100) / 100)) for i in range(n)
    )
    wav = encode_wav(rate, 1, 16, pcm)
    assert decode_wav(wav) == (rate, 1, 16, n, pcm)
    # stereo 8-bit also decodes
    st8 = encode_wav(4000, 2, 8, bytes(range(256)) * 10)
    assert decode_wav(st8)[0:3] == (4000, 2, 8)
    # junk stays gated (None -> the caller raises)
    assert decode_wav(b"RIFFjunk") is None


def test_mjpeg_avi_frame_sampling_real_path():
    """A Motion-JPEG AVI's frames come back from iter_mjpeg_frames as
    the embedded JPEG bytes, in order."""
    import numpy as np

    from magicxml_spark.sources.jpeg_lite import encode_jpeg
    from magicxml_spark.sources.riff_media import encode_mjpeg_avi, iter_mjpeg_frames

    rng = np.random.default_rng(11)
    w, h = 16, 12
    frames = [
        encode_jpeg(w, h, "RGB", bytes(rng.integers(0, 256, w * h * 3, dtype=np.uint8)))
        for _ in range(7)
    ]
    avi = encode_mjpeg_avi(frames, w, h)
    assert [f for _, f in iter_mjpeg_frames(avi)] == frames
