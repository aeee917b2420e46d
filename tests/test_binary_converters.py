"""K10 converter tests: pdf->images per page @ dpi (+ zip assembly),
image->PDF pt-scaling/centering, and the A5 heuristic dependency parse.

Third-party codecs are absent from this image, so these drive the
repo's lite codecs — the distributed plumbing (page fan-out, dpi math,
zip assembly, schema) is the engine behavior under test; the pt-scaling
math is the reference's real formula (main.py:1195-1225) and is
tested exactly.
"""

from __future__ import annotations

import zipfile

import pytest

from magicxml_spark.analytics.heuristic_parse import heuristic_dependency_parse
from magicxml_spark.sources.binary_docs import (
    fit_image_to_pdf_page,
    image_to_pdf,
    pdf_to_images,
    read_binary,
    write_image_outputs,
)


def test_fit_small_image_gets_own_page_size():
    # 400x300 px -> 300x225 pt, fits A4: page == image, no offsets
    geo = fit_image_to_pdf_page(400, 300)
    assert geo["page_width_pt"] == pytest.approx(300.0)
    assert geo["page_height_pt"] == pytest.approx(225.0)
    assert geo["pdf_width_pt"] == pytest.approx(300.0)
    assert geo["x_offset_pt"] == pytest.approx(0.0)
    assert geo["y_offset_pt"] == pytest.approx(0.0)


def test_fit_large_image_scaled_and_centered_on_a4():
    # 2000x1000 px -> 1500x750 pt, too wide: scale to 595 wide, center
    geo = fit_image_to_pdf_page(2000, 1000)
    assert geo["page_width_pt"] == 595.0 and geo["page_height_pt"] == 842.0
    assert geo["pdf_width_pt"] == pytest.approx(595.0)
    assert geo["pdf_height_pt"] == pytest.approx(297.5)
    assert geo["x_offset_pt"] == pytest.approx(0.0)
    # vertical centering: (842 - 297.5) / 2
    assert geo["y_offset_pt"] == pytest.approx(272.25)


def test_fit_tiny_image_page_floored_at_72pt():
    # reference floors page dims at 72 pt (main.py:1213-1214); the
    # image keeps its true size and is centered inside the floor page
    geo = fit_image_to_pdf_page(20, 20)  # 15x15 pt
    assert geo["page_width_pt"] == 72.0 and geo["page_height_pt"] == 72.0
    assert geo["pdf_width_pt"] == pytest.approx(15.0)
    assert geo["x_offset_pt"] == pytest.approx((72.0 - 15.0) / 2)


def test_image_to_pdf_geometry_and_naming(spark, tmp_path):
    # img-small is 136x1384 px (taller than A4 at 96 dpi: scale branch),
    # img-big 152x864 px (fits: own-page branch)
    from magicxml_spark.sources import png_lite

    for name, (w, h) in {"img-small": (136, 1384), "img-big": (152, 864)}.items():
        px = bytes(range(256)) * (w * h * 3 // 256) + bytes(w * h * 3 % 256)
        (tmp_path / f"{name}.png").write_bytes(png_lite.encode_png(w, h, "RGB", px))
    out = {
        r["pdf_filename"]: r
        for r in image_to_pdf(read_binary(spark, str(tmp_path))).collect()
    }
    small = out["img-small.pdf"]
    assert small["page_height_pt"] == 842.0  # scaled onto A4
    assert small["x_offset_pt"] > 0  # centered horizontally
    big = out["img-big.pdf"]
    assert big["page_width_pt"] == pytest.approx(152 * 72 / 96)
    assert big["x_offset_pt"] == pytest.approx(0.0)
    assert bytes(big["pdf_content"]).startswith(b"%PDF")


def _fast_dpi(monkeypatch, dpi=36):
    """Render PDF pages at ``dpi`` (36: A4 at 298x421 px) instead of the
    300-dpi default, to keep tests fast."""
    from magicxml_spark.sources import binary_docs

    monkeypatch.setattr(binary_docs, "PDF_DEFAULT_DPI", dpi)


def _table_pdfs(d):
    """one.pdf spans three pages, two.pdf one (pdf_lite table reports)."""
    from magicxml_spark.sources import pdf_lite

    many = [[str(i), f"row {i}"] for i in range(120)]
    (d / "one.pdf").write_bytes(pdf_lite.write_table_pdf(["id", "name"], many))
    (d / "two.pdf").write_bytes(pdf_lite.write_table_pdf(["id", "name"], [["1", "a"]]))


def test_pdf_to_images_page_fanout_and_dpi(spark, tmp_path, monkeypatch):
    _fast_dpi(monkeypatch)
    _table_pdfs(tmp_path)
    rows = pdf_to_images(read_binary(spark, str(tmp_path)), output_format="png").collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["path"].rsplit("/", 1)[-1], []).append(r)
    assert len(by_file["one.pdf"]) == 3 and len(by_file["two.pdf"]) == 1
    # multipage -> page_NNN.png members; single page -> bare {base}.png
    assert sorted(r["page_filename"] for r in by_file["one.pdf"]) == [
        "page_001.png",
        "page_002.png",
        "page_003.png",
    ]
    assert by_file["two.pdf"][0]["page_filename"] == "two.png"
    # dpi honored: A4 points x dpi/72
    assert rows[0]["width"] == round(595 * 36 / 72)
    assert rows[0]["height"] == round(842 * 36 / 72)


def test_write_image_outputs_zip_assembly(spark, tmp_path, monkeypatch):
    _fast_dpi(monkeypatch)
    src = tmp_path / "src"
    src.mkdir()
    _table_pdfs(src)  # one.pdf: 3 pages -> zip; two.pdf: 1 page -> bare file
    images = pdf_to_images(read_binary(spark, str(src)))
    out_dir = tmp_path / "out"
    written = sorted(write_image_outputs(images, str(out_dir)))
    assert [p.rsplit("/", 1)[-1] for p in written] == ["one_images.zip", "two.png"]
    with zipfile.ZipFile(out_dir / "one_images.zip") as zf:
        assert zf.namelist() == ["page_001.png", "page_002.png", "page_003.png"]
        assert all(len(zf.read(n)) > 0 for n in zf.namelist())
    assert (out_dir / "two.png").stat().st_size > 0


def test_jpg_format_naming(spark, tmp_path, monkeypatch):
    _fast_dpi(monkeypatch)
    _table_pdfs(tmp_path)
    rows = pdf_to_images(
        read_binary(spark, str(tmp_path / "two.pdf")), output_format="jpg"
    ).collect()
    assert rows[0]["page_filename"] == "two.jpg"


def test_dependency_parse_falls_back_to_heuristic(spark):
    """The declarative rule-based parse: real POS tags and a coherent
    tree — the root is the first verb/aux, self-headed; the subject
    precedes it; the determiner attaches forward to its noun."""
    docs = spark.createDataFrame(
        [(1, "The big cat sat on the mat")], ["doc_id", "text"]
    )
    rows = {r["token_index"]: r for r in heuristic_dependency_parse(docs).collect()}
    assert len(rows) == 7
    # "big" has no lexicon/suffix evidence -> NOUN default, so "The"
    # attaches forward to it (nearest nominal)
    assert rows[0]["pos"] == "DET" and rows[0]["dep"] == "det" and rows[0]["head_index"] == 1
    assert rows[3]["token"] == "sat" and rows[3]["dep"] == "ROOT" and rows[3]["head_index"] == 3
    assert rows[2]["token"] == "cat" and rows[2]["dep"] == "nsubj" and rows[2]["head_index"] == 3
    assert rows[4]["pos"] == "ADP" and rows[4]["dep"] == "prep"
    assert rows[5]["dep"] == "det" and rows[5]["head_index"] == 6
    assert rows[6]["token"] == "mat" and rows[6]["dep"] == "pobj" and rows[6]["head_index"] == 4


def test_pdf_report_roundtrip_real_path(spark, tmp_path):
    """K8 is REAL in every environment: render_pdf_report writes an
    actual PDF (reportlab when installed, pdf_lite otherwise), the
    50-row table cap applies, and extract_pdf_tables reads the rows
    back out of the document via S9 — a full write/read round-trip with
    no codec library installed."""
    import json

    from pyspark.sql import functions as F

    from magicxml_spark.sources.binary_docs import (
        extract_pdf_documents,
        extract_pdf_tables,
        read_binary,
        render_pdf_report,
    )

    df = spark.range(80).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
    )
    out = str(tmp_path / "report.pdf")
    assert render_pdf_report(df, out, title="Catalog") == out
    raw = open(out, "rb").read()
    assert raw.startswith(b"%PDF") and b"%%EOF" in raw

    bin_df = read_binary(spark, str(tmp_path / "report.pdf"))
    tables = extract_pdf_tables(bin_df).collect()
    cells = [json.loads(r["cell_json"]) for r in tables]
    assert ["id", "name"] in cells  # header row survives
    assert ["49", "name-49"] in cells  # last capped row present
    assert ["50", "name-50"] not in cells  # 50-row cap applied
    assert len([c for c in cells if c != ["id", "name"]]) == 50

    docs = extract_pdf_documents(bin_df).collect()
    assert docs[0]["pages_count"] >= 1
    assert "name-49" in docs[0]["text"]
    assert json.loads(docs[0]["meta_json"]).get("Title") == "Catalog"


def test_excel_to_pdf_end_to_end(spark, tmp_path):
    """K9 for real: .xlsx -> PDF report on stdlib alone."""
    from magicxml_spark.sources import excel
    from magicxml_spark.sources.binary_docs import extract_pdf_documents, read_binary

    df = spark.createDataFrame(
        [("1", "chair"), ("2", "table")], ["id", "product"]
    )
    xlsx = str(tmp_path / "cat.xlsx")
    excel.write_excel(df, xlsx)
    pdf = str(tmp_path / "cat.pdf")
    assert excel.excel_to_pdf(spark, xlsx, pdf) == pdf
    docs = extract_pdf_documents(
        read_binary(spark, str(tmp_path / "cat.pdf"))
    ).collect()
    assert "chair" in docs[0]["text"] and "table" in docs[0]["text"]


def _mk_png(w=8, h=6, mode="RGB"):
    from magicxml_spark.sources import png_lite

    ch = len(mode)
    px = bytes((x * 31 + y * 17 + c * 7) % 256 for y in range(h) for x in range(w) for c in range(ch))
    return png_lite.encode_png(w, h, mode, px), px


def test_image_to_pdf_real_png_path(spark, tmp_path):
    """K10 image->PDF is real: the emitted bytes are a valid PDF with a
    DeviceRGB image XObject at the reference geometry."""
    import zlib

    from magicxml_spark.sources.binary_docs import (
        fit_image_to_pdf_page,
        image_to_pdf,
        read_binary,
    )

    data, px = _mk_png(8, 6, "RGB")
    (tmp_path / "img.png").write_bytes(data)
    row = image_to_pdf(read_binary(spark, str(tmp_path))).collect()[0]
    geo = fit_image_to_pdf_page(8, 6)
    assert row["pdf_filename"] == "img.pdf"
    assert row["page_width_pt"] == geo["page_width_pt"]
    pdf = bytes(row["pdf_content"])
    assert pdf.startswith(b"%PDF") and b"/Subtype /Image" in pdf
    # the embedded pixel stream inflates back to the source pixels
    start = pdf.index(b"/Filter /FlateDecode")
    s = pdf.index(b"stream\n", start) + len(b"stream\n")
    e = pdf.index(b"\nendstream", s)
    assert zlib.decompress(pdf[s:e]) == px


def test_png_to_jpg_real_path(spark, tmp_path):
    """process_png_to_jpg — the operator the reference calls but never
    defines (main.py:2078) — runs for REAL with no Pillow: png_lite
    decode, alpha-on-white flatten, jpeg_lite baseline encode. The
    output is a valid JFIF stream and the in-repo decoder round-trips
    it above 35 dB PSNR."""
    import numpy as np

    from magicxml_spark.sources import jpeg_lite, png_lite
    from magicxml_spark.sources.binary_docs import png_to_jpg, read_binary

    w, h = 24, 16
    px = bytes(
        ((x * 255) // w, (y * 255) // h, ((x + y) * 255) // (w + h))[c]
        for y in range(h) for x in range(w) for c in range(3)
    )
    (tmp_path / "grad.png").write_bytes(png_lite.encode_png(w, h, "RGB", px))
    out = png_to_jpg(read_binary(spark, str(tmp_path))).collect()[0]
    jpg = bytes(out["jpg_content"])
    assert jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9" and b"JFIF" in jpg
    w2, h2, mode, back = jpeg_lite.decode_jpeg(jpg)
    assert (w2, h2, mode) == (w, h, "RGB")
    a = np.frombuffer(px, dtype=np.uint8).astype(float)
    b = np.frombuffer(back, dtype=np.uint8).astype(float)
    mse = ((a - b) ** 2).mean()
    assert 10 * np.log10(255**2 / mse) > 35.0


def test_jpeg_lite_quality_ladder_and_gray():
    """Lower quality -> fewer bytes; grayscale single-component scan
    decodes; odd (non-multiple-of-8) dims pad and crop correctly."""
    import numpy as np

    from magicxml_spark.sources import jpeg_lite

    w, h = 37, 23
    px = bytes(
        ((x * 255) // w, (y * 255) // h, ((x + y) * 255) // (w + h))[c]
        for y in range(h) for x in range(w) for c in range(3)
    )
    sizes = []
    for q in (95, 75, 50):
        data = jpeg_lite.encode_jpeg(w, h, "RGB", px, quality=q)
        sizes.append(len(data))
        w2, h2, mode, out = jpeg_lite.decode_jpeg(data)
        assert (w2, h2, mode) == (w, h, "RGB")
        a = np.frombuffer(px, dtype=np.uint8).astype(float)
        b = np.frombuffer(out, dtype=np.uint8).astype(float)
        assert 10 * np.log10(255**2 / ((a - b) ** 2).mean()) > 30.0
    assert sizes[0] > sizes[2]  # quality knob is observable

    gpx = bytes((x * 7 + y * 3) % 256 for y in range(16) for x in range(16))
    data = jpeg_lite.encode_jpeg(16, 16, "L", gpx, quality=90)
    w2, h2, mode, out = jpeg_lite.decode_jpeg(data)
    assert (w2, h2, mode) == (16, 16, "L")


def test_png_lite_corrupt_inputs_return_none_not_raise():
    """Review regression: structurally corrupt PNGs (truncated IHDR,
    bad palette index) must return None — so one bad file in a
    binaryFile ingest falls to the library gate instead of failing the
    task."""
    import struct
    import zlib

    from magicxml_spark.sources import png_lite

    sig = b"\x89PNG\r\n\x1a\n"
    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)

    truncated_ihdr = sig + chunk(b"IHDR", b"\x00\x00")  # 2 bytes, needs 13
    assert png_lite.decode_png(truncated_ihdr) is None
    # palette image whose index exceeds the 1-entry PLTE
    raw = zlib.compress(b"\x00\x05")  # filter 0, index 5
    bad_palette = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", b"\x10\x20\x30")
        + chunk(b"IDAT", raw)
        + chunk(b"IEND", b"")
    )
    assert png_lite.decode_png(bad_palette) is None


def test_pdf_table_cells_containing_separator_roundtrip():
    """Review regression: cell text containing the ' | ' separator
    sequence must survive the write->extract round-trip as ONE cell
    (positional split on the recorded column width)."""
    from magicxml_spark.sources import pdf_lite

    data = pdf_lite.write_table_pdf(["a", "b"], [["x | y", "z"]])
    rows = pdf_lite.extract_table_rows(data)
    cells = [r[2] for r in rows]
    assert ["a", "b"] in cells
    assert ["x | y", "z"] in cells, cells


def test_luhn_counts_digits_not_characters(spark):
    """Review regression: the 13-minimum counts extracted DIGITS."""
    from pyspark.sql import functions as F

    from magicxml_spark.operators.text import luhn_valid

    df = spark.createDataFrame([("000000000000x",), ("0000000000000",)], ["s"])
    got = [r["ok"] for r in df.select(luhn_valid(F.col("s")).alias("ok")).collect()]
    assert got == [False, True]  # 12 digits + junk char rejected; 13 zeros pass


# ---------------------------------------------------------------------------
# pdf_raster: real rasterization of pdf_lite-authored documents
# ---------------------------------------------------------------------------


def test_rasterize_text_pdf_glyphs_and_dims():
    """The 5x7 rasterizer draws the title's glyph dots where the layout
    puts them (line 1 at y=788pt, x from 40pt), scaled by dpi."""
    from magicxml_spark.sources.pdf_lite import write_table_pdf
    from magicxml_spark.sources.pdf_raster import rasterize_pdf
    from magicxml_spark.sources.png_lite import decode_png

    pdf = write_table_pdf(["name"], [["x"]], title="T")
    pages = rasterize_pdf(pdf, dpi=72)
    assert len(pages) == 1
    w, h, png = pages[0]
    assert (w, h) == (595, 842)
    dw, dh, mode, pix = decode_png(png)
    assert (dw, dh, mode) == (595, 842, "RGB")

    def black(px, py):
        return pix[(py * dw + px) * 3] == 0

    # 'T' at baseline (40, 788): crossbar spans x 40..45 at the cap line
    # (y = 795pt -> row 842-795 = 47), stem at x=42 down to the baseline
    assert all(black(40 + dx, 47) for dx in range(5))
    assert black(42, 53) and not black(40, 53)
    # at 2x dpi every coordinate doubles
    w2, h2, png2 = rasterize_pdf(pdf, dpi=144)[0]
    assert (w2, h2) == (1190, 1684)


def test_rasterize_image_pdf_blit():
    from magicxml_spark.sources.pdf_lite import write_image_pdf
    from magicxml_spark.sources.pdf_raster import rasterize_pdf
    from magicxml_spark.sources.png_lite import decode_png

    rgb = bytes([10, 200, 40] * (4 * 4))
    pdf = write_image_pdf(rgb, 4, 4, 100, 100, 60, 60, 20, 20, title="i")
    w, h, png = rasterize_pdf(pdf, dpi=72)[0]
    dw, dh, mode, pix = decode_png(png)

    def at(px, py):
        o = (py * dw + px) * 3
        return tuple(pix[o : o + 3])

    assert at(50, 50) == (10, 200, 40)  # inside the drawn rect
    assert at(5, 5) == (255, 255, 255)  # outside stays white


def test_rasterize_foreign_pdf_returns_none():
    from magicxml_spark.sources.pdf_raster import rasterize_pdf

    assert rasterize_pdf(b"%PDF-1.7 some foreign file", dpi=72) is None
    assert rasterize_pdf(b"not a pdf at all", dpi=72) is None


def test_rasterize_no_content_gate_is_per_arm():
    """The no-content bail-out applies ONLY to the foreign-text arm: a
    pdf_lite-AUTHORED document with a blank page renders blank pages
    (as it always did), a foreign PDF with no drawable content returns
    None, and a decoded-but-never-DRAWN XObject (no `Do` in the
    content stream) does not count as content."""
    from magicxml_spark.sources.pdf_lite import PRODUCER, _serialize
    from magicxml_spark.sources.pdf_raster import rasterize_pdf, rasterize_text_pdf
    from magicxml_spark.sources.png_lite import decode_png

    def doc(producer, contents=b"", extra_page=b""):
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
            4: (
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 100 100] "
                + extra_page
                + b"/Contents 5 0 R >>"
            ),
            5: b"<< /Length %d >>\nstream\n" % len(contents)
            + contents
            + b"\nendstream",
            6: b"<< /Producer (" + producer + b") >>",
        }
        return _serialize(objs, 6)

    # authored arm: blank page still renders (all-white, not None)
    blank = doc(PRODUCER.encode())
    pages = rasterize_pdf(blank, dpi=72)
    assert pages is not None and len(pages) == 1
    _, _, png = pages[0]
    w, h, mode, pix = decode_png(png)
    assert set(pix) == {255}
    # foreign arm: same blank page falls to the gate
    assert rasterize_text_pdf(doc(b"OtherTool"), dpi=72) is None
    # foreign arm: an XObject that decodes but is never drawn (no Do)
    # is not content either
    import zlib as _z

    img = _z.compress(b"\x00" * 12)  # 2x2 RGB
    xobj = (
        b"<< /Subtype /Image /Width 2 /Height 2 /ColorSpace /DeviceRGB "
        b"/BitsPerComponent 8 /Filter /FlateDecode /Length %d >>\nstream\n"
        % len(img)
        + img
        + b"\nendstream"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: xobj,
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 100 100] "
            b"/Resources << /XObject << /Im0 3 0 R >> >> /Contents 5 0 R >>"
        ),
        5: b"<< /Length 0 >>\nstream\n\nendstream",
        6: b"<< /Producer (OtherTool) >>",
    }
    assert rasterize_text_pdf(_serialize(objs, 6), dpi=72) is None


def test_pdf_to_images_renders_lite_reports_for_real(spark, tmp_path, monkeypatch):
    """End-to-end K10 without fitz: render_pdf_report writes a 2-page
    pdf_lite report; pdf_to_images rasterizes both pages through the
    distributed mapInPandas path at the configured dpi."""
    _fast_dpi(monkeypatch)
    from magicxml_spark.sources.binary_docs import render_pdf_report
    from magicxml_spark.sources.png_lite import decode_png

    df = spark.createDataFrame(
        [(i, f"item-{i}") for i in range(60)], "id int, name string"
    )
    # 60 rows + title + header = 62 lines > 54/page -> 2 pages; the
    # 50-row table cap applies first -> 52 lines... still 1 page, so
    # cap at the caller instead: write uncapped via pdf_lite directly
    from magicxml_spark.sources import pdf_lite

    rows = [[str(i), f"item-{i}"] for i in range(60)]
    (tmp_path / "report.pdf").write_bytes(
        pdf_lite.write_table_pdf(["id", "name"], rows, title="Items")
    )
    out = pdf_to_images(read_binary(spark, str(tmp_path))).collect()
    assert len(out) == 2
    assert sorted(r["page_filename"] for r in out) == ["page_001.png", "page_002.png"]
    for r in out:
        assert (r["width"], r["height"]) == (round(595 * 0.5), round(842 * 0.5))
        dw, dh, mode, pix = decode_png(bytes(r["img_content"]))
        assert (dw, dh) == (r["width"], r["height"])
        assert any(pix[i] == 0 for i in range(0, len(pix), 3))  # drew ink


def test_pdf_to_images_jpg_transcode(spark, tmp_path, monkeypatch):
    _fast_dpi(monkeypatch)
    from magicxml_spark.sources import pdf_lite
    from magicxml_spark.sources.jpeg_lite import decode_jpeg

    (tmp_path / "r.pdf").write_bytes(
        pdf_lite.write_table_pdf(["a"], [["hello"]], title="J")
    )
    out = pdf_to_images(
        read_binary(spark, str(tmp_path)), output_format="jpg"
    ).collect()
    assert out[0]["page_filename"] == "r.jpg"
    w, h, mode, pix = decode_jpeg(bytes(out[0]["img_content"]))
    assert (w, h) == (out[0]["width"], out[0]["height"])


# ---------------------------------------------------------------------------
# image_lite: BMP + GIF decoders and the format dispatcher
# ---------------------------------------------------------------------------


def _make_bmp(w, h, rgb, bpp=24, top_down=False):
    """Minimal BITMAPINFOHEADER writer (the test's independent
    encoder): bottom-up unless top_down, 4-byte padded rows."""
    import struct

    stride = ((bpp * w + 31) // 32) * 4
    lines = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            r, g, b = rgb[(y * w + x) * 3 : (y * w + x) * 3 + 3]
            row += bytes((b, g, r)) + (b"\x00" if bpp == 32 else b"")
        row += b"\x00" * (stride - len(row))
        lines.append(bytes(row))
    if not top_down:
        lines.reverse()
    pix = b"".join(lines)
    hdr = struct.pack(
        "<iiHHIIiiII", w, -h if top_down else h, 1, bpp, 0, len(pix), 2835, 2835, 0, 0
    )
    info = struct.pack("<I", 40) + hdr
    off = 14 + 40
    return b"BM" + struct.pack("<IHHI", off + len(pix), 0, 0, off) + info + pix


def _gif_lzw_encode(min_size, data):
    clear = 1 << min_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0
    code_size = min_size + 1

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    prev = b""
    for p in data:
        cur = prev + bytes([p])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
            if next_code > (1 << code_size) and code_size < 12:
                code_size += 1
        prev = cur[-1:]
    if prev:
        emit(table[prev])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _make_gif(w, h, palette_rgb, idx, interlace=False, transparent=None):
    import struct

    ncol = len(palette_rgb) // 3
    n_field = max(0, (max(2, ncol) - 1).bit_length() - 1)
    table_size = 2 << n_field
    pal = bytes(palette_rgb) + b"\x00" * (3 * (table_size - ncol))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | n_field, 0, 0)
    out += pal
    if transparent is not None:
        out += bytes((0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0))
    rows = list(range(h))
    if interlace:
        rows = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
    seq = bytearray()
    for y in rows:
        seq += idx[y * w : (y + 1) * w]
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
    min_size = max(2, n_field + 1)
    out.append(min_size)
    lzw = _gif_lzw_encode(min_size, bytes(seq))
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_bmp_roundtrip_all_variants():
    import hashlib

    from magicxml_spark.sources.image_lite import decode_bmp

    w, h = 13, 7  # odd width exercises row padding
    rgb = bytes(hashlib.md5(bytes([i % 256])).digest()[0] for i in range(w * h * 3))
    for kwargs in ({}, {"top_down": True}, {"bpp": 32}):
        got = decode_bmp(_make_bmp(w, h, rgb, **kwargs))
        assert got is not None, kwargs
        assert got[:3] == (w, h, "RGB")
        assert bytes(got[3]) == rgb, kwargs
    assert decode_bmp(_make_bmp(w, h, rgb)[:40]) is None  # truncated
    assert decode_bmp(b"BMgarbage") is None


def test_gif_roundtrip_with_code_growth():
    import random

    from magicxml_spark.sources.image_lite import decode_gif

    rng = random.Random(7)
    w, h = 40, 30
    palette = bytes(rng.randrange(256) for _ in range(7 * 3))
    idx = bytes(rng.randrange(7) for _ in range(w * h))  # ~hundreds of LZW entries
    got = decode_gif(_make_gif(w, h, palette, idx))
    assert got is not None and got[:3] == (w, h, "RGB")
    expect = b"".join(palette[3 * p : 3 * p + 3] for p in idx)
    assert bytes(got[3]) == expect
    # interlaced file decodes to the same sequential pixels
    got_i = decode_gif(_make_gif(w, h, palette, idx, interlace=True))
    assert bytes(got_i[3]) == expect


def test_gif_transparency_yields_rgba():
    from magicxml_spark.sources.image_lite import decode_gif

    palette = bytes((255, 0, 0, 0, 255, 0))
    idx = bytes((0, 1, 1, 0))
    w, h, mode, pix = decode_gif(_make_gif(2, 2, palette, idx, transparent=1))
    assert mode == "RGBA"
    assert pix[0:4] == bytes((255, 0, 0, 255))  # opaque palette 0
    assert pix[4:8] == bytes((0, 255, 0, 0))  # transparent palette 1


def test_decode_image_dispatch():
    from magicxml_spark.sources.image_lite import decode_image
    from magicxml_spark.sources.jpeg_lite import encode_jpeg
    from magicxml_spark.sources.png_lite import encode_png

    rgb = bytes(range(48))  # 4x4
    assert decode_image(encode_png(4, 4, "RGB", rgb))[0] == "PNG"
    assert decode_image(_make_bmp(4, 4, rgb))[0] == "BMP"
    assert decode_image(encode_jpeg(4, 4, "RGB", rgb))[0] == "JPEG"
    assert decode_image(b"\x00\x01not an image") is None


def test_image_ops_accept_bmp_and_gif(spark, tmp_path):
    """K10 to-jpg on non-PNG inputs runs through the lite decoders."""
    import hashlib

    from magicxml_spark.sources.binary_docs import png_to_jpg
    from magicxml_spark.sources.jpeg_lite import decode_jpeg

    w, h = 10, 6
    rgb = bytes(hashlib.md5(bytes([i % 256])).digest()[0] for i in range(w * h * 3))
    palette = bytes(range(24))
    idx = bytes((i % 8) for i in range(w * h))
    (tmp_path / "a.bmp").write_bytes(_make_bmp(w, h, rgb))
    (tmp_path / "b.gif").write_bytes(_make_gif(w, h, palette, idx))
    jpg = png_to_jpg(read_binary(spark, str(tmp_path / "b.gif"))).collect()
    jw, jh, jmode, _ = decode_jpeg(bytes(jpg[0]["jpg_content"]))
    assert (jw, jh) == (w, h)


# ---------------------------------------------------------------------------
# jpeg_lite: 4:2:0 subsampling, restart intervals, foreign-baseline decode
# ---------------------------------------------------------------------------


def _psnr(a: bytes, b: bytes) -> float:
    import numpy as np

    x = np.frombuffer(a, dtype=np.uint8).astype(float)
    y = np.frombuffer(b, dtype=np.uint8).astype(float)
    mse = ((x - y) ** 2).mean()
    return 99.0 if mse == 0 else float(10 * np.log10(255**2 / mse))


def _gradient_rgb(w: int, h: int) -> bytes:
    import numpy as np

    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    r = (xx * 255 // (w - 1)).astype(np.uint8)
    g = (yy * 255 // (h - 1)).astype(np.uint8)
    b = ((xx + yy) * 255 // (w + h - 2)).astype(np.uint8)
    return np.stack([r, g, b], axis=-1).tobytes()


def test_jpeg_420_and_restart_roundtrip():
    """Decoder arms the encoder does not write. The fixtures are the
    37x23 gradient (odd dims: MCU padding on both axes) encoded at
    quality 90 with restart interval 2, and with 4:2:0 chroma plus
    restart interval 3. 4:2:0 halves chroma resolution (lower but
    acceptable PSNR on a smooth image); restart intervals change the
    byte stream (DRI + RSTn markers present), not the decoded pixels."""
    import os

    from magicxml_spark.sources.jpeg_lite import decode_jpeg, encode_jpeg

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    with open(os.path.join(fixtures, "gradient_rst2.jpg"), "rb") as f:
        rst = f.read()
    with open(os.path.join(fixtures, "gradient_420_rst3.jpg"), "rb") as f:
        both = f.read()
    w, h = 37, 23
    rgb = _gradient_rgb(w, h)
    plain = encode_jpeg(w, h, "RGB", rgb, quality=90)
    for enc, floor in ((plain, 44), (rst, 44), (both, 35)):
        dw, dh, mode, pix = decode_jpeg(enc)
        assert (dw, dh, mode) == (w, h, "RGB")
        assert _psnr(rgb, pix) > floor
    for enc in (rst, both):
        assert b"\xff\xdd" in enc and b"\xff\xd0" in enc
    # restart markers are transparent: identical pixels either way
    assert decode_jpeg(plain)[3] == decode_jpeg(rst)[3]
    # 420 sets the Y sampling factor to 2x2 in SOF0
    sof_at = both.index(b"\xff\xc0")
    assert both[sof_at + 11] == 0x22  # first component's h<<4|v


def test_jpeg_decode_rejects_arithmetic_and_hierarchical():
    """Progressive (SOF2) is decoded for real since round 5; the
    still-gated processes are arithmetic/hierarchical SOFs."""
    from magicxml_spark.sources.jpeg_lite import decode_jpeg, encode_jpeg

    import pytest

    for sof in (0xC3, 0xC9, 0xCA, 0xCB):
        enc = bytearray(encode_jpeg(8, 8, "L", bytes(64)))
        enc[enc.index(b"\xff\xc0") + 1] = sof
        with pytest.raises(ValueError, match="arithmetic|hierarchical"):
            decode_jpeg(bytes(enc))

    # a SOF0->SOF2 flip alone yields a spec-ILLEGAL progressive scan
    # (Ss=0 with Se=63 — DC and AC may not share a progressive scan,
    # G.1.1.1.1) and must raise, not silently misparse
    enc = bytearray(encode_jpeg(8, 8, "L", bytes(64)))
    enc[enc.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(enc))


def test_jpeg_decode_skips_appn_and_fill_bytes():
    """Foreign files carry APPn/COM segments and fill bytes between
    markers — the parser must step over them."""
    from magicxml_spark.sources.jpeg_lite import decode_jpeg, encode_jpeg

    enc = encode_jpeg(9, 5, "L", bytes(range(45)))
    # splice an APP13 + COM + fill byte right after SOI
    import struct

    extra = (
        b"\xff\xed" + struct.pack(">H", 12) + b"Photoshop\x00"
        + b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
        + b"\xff"  # fill byte before the next marker
    )
    spliced = enc[:2] + extra + enc[2:]
    dw, dh, mode, pix = decode_jpeg(spliced)
    assert (dw, dh, mode) == (9, 5, "L")
    assert _psnr(bytes(range(45)), pix) > 40


# ---------------------------------------------------------------------------
# Heuristic table extraction from foreign text PDFs
# ---------------------------------------------------------------------------


def _foreign_text_pdf(lines):
    """A minimal text PDF from a DIFFERENT producer (no pdf_lite
    markers) — simulates third-party generators whose text layer uses
    space-aligned columns."""
    from magicxml_spark.sources.pdf_lite import _page_stream, _serialize

    stream = _page_stream(lines)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
        ),
        5: b"<< /Length %d >>\nstream\n" % len(stream) + stream + b"\nendstream",
        6: b"<< /Producer (SomeOtherTool 9.1) >>",
    }
    return _serialize(objs, 6)


def test_heuristic_table_extraction_foreign_pdf(spark, tmp_path):
    """A space-aligned table inside a non-pdf_lite PDF extracts via the
    whitespace-column heuristic — correct cells, prose lines excluded."""
    from magicxml_spark.sources.binary_docs import extract_pdf_tables

    lines = [
        "Quarterly report, fiscal 2031",
        "",
        "region      units    revenue",
        "north         120     4400.5",
        "south          75     2810.0",
        "west            9      301.2",
        "",
        "Notes: numbers are unaudited.",
    ]
    (tmp_path / "foreign.pdf").write_bytes(_foreign_text_pdf(lines))
    import json

    rows = extract_pdf_tables(read_binary(spark, str(tmp_path))).collect()
    cells = [json.loads(r["cell_json"]) for r in sorted(rows, key=lambda r: r["cell_row"])]
    assert cells[0] == ["region", "units", "revenue"]
    assert cells[1] == ["north", "120", "4400.5"]
    assert cells[3] == ["west", "9", "301.2"]
    assert len(cells) == 4  # prose and blank lines are not table rows
    assert all(r["table_number"] == 1 for r in rows)


def test_heuristic_table_extraction_returns_empty_for_prose():
    from magicxml_spark.sources.pdf_lite import extract_table_rows_heuristic

    pdf = _foreign_text_pdf(["just a paragraph of text", "another line here"])
    assert extract_table_rows_heuristic(pdf) == []
    assert extract_table_rows_heuristic(b"not a pdf") == []


def _encode_png_adam7(w, h, mode, pixels):
    """In-test Adam7 encoder (filter 0 per pass) — independent of the
    decoder's pass table."""
    import struct
    import zlib

    from magicxml_spark.sources.png_lite import _SIG, _chunk

    ctype = {"L": 0, "RGB": 2, "LA": 4, "RGBA": 6}[mode]
    ch = len(mode)
    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for sy in range(ph):
            raw.append(0)
            for sx in range(pw):
                src = ((y0 + sy * dy) * w + (x0 + sx * dx)) * ch
                raw += pixels[src : src + ch]
    return (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1))
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def test_png_adam7_interlace_roundtrip():
    """Adam7 files decode to the identical pixels as the sequential
    encoding — odd dims exercise partial passes, and a tiny 1x1 image
    exercises the passes that are empty entirely."""
    import hashlib

    from magicxml_spark.sources.png_lite import decode_png

    for w, h, mode in ((13, 7, "RGB"), (8, 8, "L"), (1, 1, "RGB"), (5, 3, "RGBA")):
        ch = len(mode)
        pix = bytes(
            hashlib.md5(bytes([i % 251])).digest()[0] for i in range(w * h * ch)
        )
        got = decode_png(_encode_png_adam7(w, h, mode, pix))
        assert got is not None, (w, h, mode)
        assert got[:3] == (w, h, mode)
        assert bytes(got[3]) == pix, (w, h, mode)


def test_png_16bit_downsamples_to_8bit():
    """16-bit-per-sample files decode with the high byte per sample,
    including a Sub-filtered row (the filter's left reference must be
    bytes-per-PIXEL, 6 bytes for 16-bit RGB, not 3)."""
    import struct
    import zlib

    from magicxml_spark.sources.png_lite import _SIG, _chunk, decode_png

    w, h = 3, 2
    hi = [[10, 20, 30, 40, 50, 60, 70, 80, 90],
          [15, 25, 35, 45, 55, 65, 75, 85, 95]]  # per-row sample high bytes
    rows16 = [
        b"".join(struct.pack(">H", (v << 8) | 0xAB) for v in r) for r in hi
    ]
    # row 0: filter 0; row 1: Sub-filter it manually at 6-byte distance
    r1 = bytearray(rows16[1])
    bpb = 6
    for i in range(len(r1) - 1, bpb - 1, -1):
        r1[i] = (r1[i] - rows16[1][i - bpb]) & 0xFF
    raw = b"\x00" + rows16[0] + b"\x01" + bytes(r1)
    png = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    got = decode_png(png)
    assert got is not None and got[:3] == (w, h, "RGB")
    assert list(got[3]) == hi[0] + hi[1]
    # 1-bit depth stays out-of-subset -> None
    bad = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + _chunk(b"IEND", b"")
    )
    assert decode_png(bad) is None


# ---------------------------------------------------------------------------
# Foreign text-PDF rasterization (round 5: K10 gate narrowed to
# image-only / compressed-xref foreign PDFs)
# ---------------------------------------------------------------------------


def _foreign_positioned_pdf():
    """A handwritten foreign PDF (no pdf_lite markers) exercising Tm
    positioning, two text blocks, and a kerned TJ array."""
    from magicxml_spark.sources.pdf_lite import _serialize

    stream = (
        b"BT\n/F1 12 Tf\n1 0 0 1 50 700 Tm\n(AB) Tj\nET\n"
        b"BT\n/F1 10 Tf\n1 0 0 1 50 100 Tm\n[(C) -500 (D)] TJ\nET"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
        ),
        5: b"<< /Length %d >>\nstream\n" % len(stream) + stream + b"\nendstream",
        6: b"<< /Producer (SomeOtherTool 9.1) >>",
    }
    return _serialize(objs, 6)


def test_rasterize_foreign_text_pdf_layout():
    """rasterize_text_pdf renders a FOREIGN text PDF with real page
    geometry: glyph ink lands where Tm put it, TJ kern numbers shift
    the pen, and the pdf_lite entry point still refuses the document."""
    from magicxml_spark.sources.pdf_raster import rasterize_pdf, rasterize_text_pdf
    from magicxml_spark.sources.png_lite import decode_png

    pdf = _foreign_positioned_pdf()
    assert rasterize_pdf(pdf, dpi=72) is None  # foreign -> lite bails
    pages = rasterize_text_pdf(pdf, dpi=72)
    assert pages is not None and len(pages) == 1
    w, h, png = pages[0]
    assert (w, h) == (612, 792)
    dw, dh, mode, pix = decode_png(png)
    assert (dw, dh, mode) == (612, 792, "RGB")

    def ink(x0, x1, y0, y1):
        return any(
            pix[(py * dw + px) * 3] == 0
            for py in range(y0, y1)
            for px in range(x0, x1)
        )

    # 'AB' at 12pt baseline (50, 700): glyph band rows ~792-709..792-700
    assert ink(50, 65, 83, 93)
    assert not ink(200, 280, 83, 93)  # nothing drawn right of the text
    # TJ block at 10pt baseline (50, 100): 'C' cell starts at x=50
    assert ink(50, 56, 684, 693)
    # kern -500/1000 * 10pt pushes 'D' to x ~61 (not the unkerned 56):
    # the inter-glyph gap 55..60 stays white, D ink appears 61..66
    assert not ink(55, 60, 684, 693)
    assert ink(61, 67, 684, 693)
    # junk / marker misuse still bail out
    assert rasterize_text_pdf(b"not a pdf", dpi=72) is None


def test_pdf_to_images_renders_foreign_text_pdf(spark, tmp_path, monkeypatch):
    """K10 end-to-end: a foreign text PDF now renders through the lite
    interpreter (no fitz) with dpi honored; the remaining gate is only
    for PDFs with no extractable text/image content."""
    _fast_dpi(monkeypatch)
    import pytest

    from magicxml_spark.sources.png_lite import decode_png

    (tmp_path / "foreign.pdf").write_bytes(_foreign_positioned_pdf())
    out = pdf_to_images(read_binary(spark, str(tmp_path))).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["width"], r["height"]) == (306, 396)
    dw, dh, mode, pix = decode_png(bytes(r["img_content"]))
    assert (dw, dh) == (306, 396)
    assert any(pix[i] == 0 for i in range(0, len(pix), 3))  # drew ink

    # a contentless foreign PDF still requires the library gate
    from magicxml_spark.sources.pdf_lite import _serialize

    empty = _serialize(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [] /Count 0 >>",
            3: b"<< /Producer (SomeOtherTool) >>",
        },
        3,
    )
    (tmp_path / "sub" ).mkdir()
    (tmp_path / "sub" / "empty.pdf").write_bytes(empty)
    with pytest.raises(Exception, match="fitz|pdf2image|NotImplemented"):
        pdf_to_images(read_binary(spark, str(tmp_path / "sub"))).collect()


# ---------------------------------------------------------------------------
# Progressive JPEG decode (T.81 Annex G) vs the independent reference
# encoder in tools/jpeg_progressive_ref.py
# ---------------------------------------------------------------------------


def _progressive_fixture():
    """Deterministic coefficient tensors for a 40x33 4:2:0 image:
    structured to exercise EOB runs > 1 (all-zero-AC blocks), ZRL (long
    zero gaps), band-edge coefficients (k=63), newly-nonzero arrivals
    in refinement scans, and correction bits."""
    import numpy as np

    rng = np.random.default_rng(20260814)
    w, h = 40, 33
    comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    q_lum = np.full((8, 8), 4, dtype=np.int64)
    q_chr = np.full((8, 8), 6, dtype=np.int64)
    qtables = {0: q_lum, 1: q_chr}
    coef = []
    for bh, bw in ((6, 6), (3, 3), (3, 3)):
        c = np.zeros((bh, bw, 64), dtype=np.int64)
        c[:, :, 0] = rng.integers(-200, 201, size=(bh, bw))
        mask = rng.random((bh, bw, 63)) < 0.18
        vals = rng.integers(-64, 65, size=(bh, bw, 63))
        c[:, :, 1:] = np.where(mask, vals, 0)
        # structured cases: an all-zero-AC row (EOB runs), a lone
        # high-frequency coefficient after a long gap (ZRL), k=63
        c[0, :, 1:] = 0
        c[-1, -1, 1:] = 0
        c[-1, -1, 60] = 33
        c[1, 0, 1:] = 0
        c[1, 0, 63] = -3  # appears only in refinement at low Al
        coef.append(c)
    scans = [
        ([0, 1, 2], 0, 0, 0, 1),   # DC first, interleaved
        ([0], 1, 5, 0, 2),         # Y low band first
        ([1], 1, 63, 0, 1),        # Cb first
        ([2], 1, 63, 0, 1),        # Cr first
        ([0], 6, 63, 0, 2),        # Y high band first
        ([0, 1, 2], 0, 0, 1, 0),   # DC refine
        ([0], 1, 63, 2, 1),        # Y refine Al=1
        ([1], 1, 63, 1, 0),        # Cb refine
        ([2], 1, 63, 1, 0),        # Cr refine
        ([0], 1, 63, 1, 0),        # Y refine Al=0
    ]
    return w, h, comps, qtables, coef, scans


def test_progressive_jpeg_decode_equals_baseline_twin():
    """The scan-parsing gate: a progressive stream (full Annex G scan
    script from the independent reference encoder) must decode to
    EXACTLY the pixels of the SOF0 twin carrying the same coefficient
    tensor — both meet at the coefficients and share the IDCT tail, so
    any first/refinement/EOB-run/ZRL parsing bug breaks equality."""
    from magicxml_spark.sources.jpeg_lite import decode_jpeg
    from tools.jpeg_progressive_ref import (
        encode_baseline_from_coef,
        encode_progressive,
    )

    w, h, comps, qtables, coef, scans = _progressive_fixture()
    prog = encode_progressive(w, h, comps, qtables, coef, scans)
    base = encode_baseline_from_coef(w, h, comps, qtables, coef)
    pw, ph, pmode, ppix = decode_jpeg(prog)
    bw_, bh_, bmode, bpix = decode_jpeg(base)
    assert (pw, ph, pmode) == (w, h, "RGB") == (bw_, bh_, bmode)
    assert ppix == bpix


def test_progressive_jpeg_decode_matches_cos_reference():
    """Independence gate: reconstruct the same coefficients with a
    from-the-formula IDCT (explicit cosine basis, no jpeg_lite code)
    and require the decoded image to match within 1 level (float
    summation-order noise at uint8 truncation boundaries only)."""
    import numpy as np

    from magicxml_spark.sources.jpeg_lite import _ZIGZAG, decode_jpeg
    from tools.jpeg_progressive_ref import encode_progressive

    w, h, comps, qtables, coef, scans = _progressive_fixture()
    prog = encode_progressive(w, h, comps, qtables, coef, scans)
    pw, ph, pmode, ppix = decode_jpeg(prog)
    got = np.frombuffer(ppix, dtype=np.uint8).reshape(h, w, 3).astype(np.float64)

    # cosine-basis IDCT from the standard's formula
    xs = np.arange(8)
    basis = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16)
    cu = np.full(8, 0.5)
    cu[0] = 0.5 / np.sqrt(2)
    planes = []
    for ci, (_, hs, vs, tq) in enumerate(comps):
        q = np.asarray(qtables[tq], dtype=np.float64)
        bh, bw = coef[ci].shape[:2]
        plane = np.zeros((bh * 8, bw * 8))
        for by in range(bh):
            for bx in range(bw):
                nat = np.zeros(64)
                nat[_ZIGZAG] = coef[ci][by, bx]
                F = nat.reshape(8, 8) * q
                blk = np.zeros((8, 8))
                for x in range(8):
                    for y in range(8):
                        blk[x, y] = np.sum(
                            (cu[:, None] * cu[None, :])
                            * F
                            * basis[:, x][:, None]
                            * basis[:, y][None, :]
                        )
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
        fy = max(vs2 for _, _, vs2, _ in comps) // vs
        fx = max(hs2 for _, hs2, _, _ in comps) // hs
        if fy > 1:
            plane = np.repeat(plane, fy, axis=0)
        if fx > 1:
            plane = np.repeat(plane, fx, axis=1)
        planes.append(plane[:h, :w] + 128.0)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    ref = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=-1,
    )
    ref = np.clip(ref, 0, 255)
    assert np.abs(got - ref).max() <= 1.0


def test_progressive_jpeg_grayscale_and_image_lite_route():
    """Single-component progressive (non-interleaved DC scan) and the
    S11 dispatch: image_lite.decode_image now accepts progressive
    JPEGs instead of raising to the PIL gate."""
    import numpy as np

    from magicxml_spark.sources.image_lite import decode_image
    from magicxml_spark.sources.jpeg_lite import decode_jpeg
    from tools.jpeg_progressive_ref import (
        encode_baseline_from_coef,
        encode_progressive,
    )

    rng = np.random.default_rng(7)
    w, h = 19, 10
    comps = [(1, 1, 1, 0)]
    qtables = {0: np.full((8, 8), 5, dtype=np.int64)}
    c = np.zeros((2, 3, 64), dtype=np.int64)
    c[:, :, 0] = rng.integers(-100, 101, size=(2, 3))
    c[:, :, 5] = rng.integers(-30, 31, size=(2, 3))
    c[0, 0, 1:] = 0
    scans = [
        ([0], 0, 0, 0, 1),
        ([0], 0, 0, 1, 0),  # DC refine, non-interleaved
        ([0], 1, 63, 0, 1),
        ([0], 1, 63, 1, 0),
    ]
    prog = encode_progressive(w, h, comps, qtables, [c], scans)
    base = encode_baseline_from_coef(w, h, comps, qtables, [c])
    assert decode_jpeg(prog) == decode_jpeg(base)
    fmt, dw, dh, mode, pix = decode_image(prog)
    assert (fmt, dw, dh, mode) == ("JPEG", w, h, "L")


# ---------------------------------------------------------------------------
# Ruled (lattice) table extraction from foreign PDFs — S9's remaining
# text-layout gate, closed in round 5
# ---------------------------------------------------------------------------


def _ruled_foreign_pdf():
    """A foreign PDF drawing a 3-col x 3-row grid with `re` rects and
    m/l strokes, text positioned per cell via Tm — the layout class the
    whitespace heuristic cannot see (each cell is its own text run)."""
    from magicxml_spark.sources.pdf_lite import _serialize

    # grid: x boundaries 50/150/250/350, y boundaries 700/680/660/640
    g = ["0.5 w"]
    for y in (700, 680, 660, 640):
        g.append(f"50 {y} m 350 {y} l S")
    for x in (50, 150, 250, 350):
        g.append(f"{x} 640 m {x} 700 l S")
    # one cell drawn as a rect instead of strokes exercises the re arm
    g.append("50 640 100 20 re S")
    cells = [
        (55, 686, "sku"), (155, 686, "name"), (255, 686, "qty"),
        (55, 666, "A1"), (155, 666, "Red Chair"), (255, 666, "4"),
        (55, 646, "B2"), (155, 646, "Oak Table"), (255, 646, "1"),
    ]
    t = []
    for x, y, s in cells:
        t.append(f"BT /F1 9 Tf 1 0 0 1 {x} {y} Tm ({s}) Tj ET")
    # a caption OUTSIDE the grid must not leak into any cell
    t.append("BT /F1 9 Tf 1 0 0 1 50 720 Tm (Inventory Report) Tj ET")
    stream = ("\n".join(g) + "\n" + "\n".join(t)).encode()
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
        ),
        5: b"<< /Length %d >>\nstream\n" % len(stream) + stream + b"\nendstream",
        6: b"<< /Producer (RuledTool 2.0) >>",
    }
    return _serialize(objs, 6)


def test_ruled_table_extraction_foreign_pdf():
    from magicxml_spark.sources.pdf_raster import extract_table_rows_ruled

    rows = extract_table_rows_ruled(_ruled_foreign_pdf())
    assert [(p, t, r, c) for p, t, r, c in rows] == [
        (1, 1, 0, ["sku", "name", "qty"]),
        (1, 1, 1, ["A1", "Red Chair", "4"]),
        (1, 1, 2, ["B2", "Oak Table", "1"]),
    ]
    # no grid -> bail to the next arm
    assert extract_table_rows_ruled(b"%PDF-1.4 no grid here") == []


def test_extract_pdf_tables_ruled_arm(spark, tmp_path):
    """S9 end-to-end: the ruled foreign PDF extracts through the
    distributed path with page/table lineage."""
    import json

    from magicxml_spark.sources.binary_docs import extract_pdf_tables

    (tmp_path / "ruled.pdf").write_bytes(_ruled_foreign_pdf())
    out = sorted(
        extract_pdf_tables(read_binary(spark, str(tmp_path))).collect(),
        key=lambda r: r["cell_row"],
    )
    assert len(out) == 3
    assert json.loads(out[0]["cell_json"]) == ["sku", "name", "qty"]
    assert json.loads(out[2]["cell_json"]) == ["B2", "Oak Table", "1"]
    assert out[0]["pdf_page"] == 1 and out[0]["table_number"] == 1


# ---------------------------------------------------------------------------
# tiff_lite: baseline TIFF decode vs an independent in-test writer
# ---------------------------------------------------------------------------


def _packbits_encode(data: bytes) -> bytes:
    """Independent PackBits encoder (TIFF 6.0 §9) for fixtures."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            lit = i
            while (
                i < n
                and i - lit < 128
                and not (i + 1 < n and i + 2 < n and data[i + 1] == data[i] and data[i + 2] == data[i])
            ):
                i += 1
            out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Independent TIFF-LZW encoder (§13): MSB-first packing, Clear
    then data then EOI, EARLY width change when the next assigned code
    is 2^width - 1."""
    CLEAR, EOI = 256, 257
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    acc = nbits = 0
    out = bytearray()

    def put(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    put(CLEAR)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        put(table[cur])
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) - 1:
            if width < 12:
                width += 1
            else:
                # table full: conformant encoders emit CLEAR at 4094
                put(CLEAR)
                table = {bytes([i]): i for i in range(256)}
                next_code = 258
                width = 9
        cur = bytes([b])
    if cur:
        put(table[cur])
    put(EOI)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _write_tiff(w, h, mode, pixels, compression=1, predictor=1, endian="<",
                rows_per_strip=None, photometric=None, tile=None):
    """Independent minimal TIFF writer for fixtures (8-bit; strips, or
    TIFF 6.0 §15 tiles when ``tile=(tw, th)`` — full-size segments with
    zero padding at the right/bottom edges)."""
    import struct as st

    bo = endian
    spp = 3 if mode == "RGB" else 1
    photo = photometric if photometric is not None else (2 if mode == "RGB" else 1)
    rps = rows_per_strip or h

    def _filt(raw, rows, row_w):
        raw = bytearray(raw)
        if predictor == 2:
            for r in range(rows):
                base = r * row_w * spp
                for x in range(row_w * spp - 1, spp - 1, -1):
                    raw[base + x] = (raw[base + x] - raw[base + x - spp]) & 0xFF
        raw = bytes(raw)
        if compression == 5:
            return _tiff_lzw_encode(raw)
        if compression == 32773:
            return _packbits_encode(raw)
        return raw

    strips = []
    if tile:
        tw, th = tile
        for y0 in range(0, h, th):
            for x0 in range(0, w, tw):
                seg = bytearray(tw * th * spp)  # zero-padded full tile
                for r in range(min(th, h - y0)):
                    src = ((y0 + r) * w + x0) * spp
                    n_cols = min(tw, w - x0) * spp
                    seg[r * tw * spp : r * tw * spp + n_cols] = pixels[
                        src : src + n_cols
                    ]
                strips.append(_filt(seg, th, tw))
    else:
        for y0 in range(0, h, rps):
            rows = min(rps, h - y0)
            strips.append(
                _filt(pixels[y0 * w * spp : (y0 + rows) * w * spp], rows, w)
            )
    n_strips = len(strips)

    tags = []  # (tag, type, count, value_or_bytes)
    def add(tag, typ, vals):
        tags.append((tag, typ, vals))

    add(256, 3, [w]); add(257, 3, [h])
    add(258, 3, [8] * spp)
    add(259, 3, [compression])
    add(262, 3, [photo])
    add(277, 3, [spp])
    if tile:
        add(322, 3, [tile[0]]); add(323, 3, [tile[1]])
    else:
        add(278, 3, [rps])
    if predictor != 1:
        add(317, 3, [predictor])
    # strip offsets/counts filled after layout
    tsize = {3: 2, 4: 4}
    header = 8
    ifd_off = header
    n_tags = len(tags) + 2
    ifd_len = 2 + 12 * n_tags + 4
    extra_off = ifd_off + ifd_len
    extra = bytearray()

    def tag_bytes(tag, typ, vals):
        nonlocal extra
        cnt = len(vals)
        total = tsize[typ] * cnt
        fmt = {3: "H", 4: "I"}[typ]
        raw = st.pack(bo + fmt * cnt, *vals)
        if total <= 4:
            raw = raw + b"\x00" * (4 - total)
        else:
            off = extra_off + len(extra)
            extra += raw
            raw = st.pack(bo + "I", off)
        return st.pack(bo + "HHI", tag, typ, cnt) + raw

    # reserve strip data after extra area — two passes: first compute
    # extra length with placeholder offsets, then write real ones
    body = b"".join(strips)
    # pass 1: lay out all non-strip tags to measure `extra`
    probe = bytearray()
    saved_extra = None
    for _pass in (1, 2):
        extra = bytearray()
        entries = []
        off_tag, cnt_tag = (324, 325) if tile else (273, 279)
        all_tags = sorted(
            tags
            + [(off_tag, 4, list(strip_offsets) if _pass == 2 else [0] * n_strips),
               (cnt_tag, 4, [len(s) for s in strips])]
        )
        for tag, typ, vals in all_tags:
            entries.append(tag_bytes(tag, typ, vals))
        if _pass == 1:
            strip_base = extra_off + len(extra)
            strip_offsets = []
            at = strip_base
            for s_ in strips:
                strip_offsets.append(at)
                at += len(s_)
    out = st.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, ifd_off)
    out += st.pack(bo + "H", n_tags) + b"".join(entries) + st.pack(bo + "I", 0)
    out += bytes(extra) + body
    return out


def test_tiff_decode_all_compressions_and_modes():
    """Baseline TIFF decode vs the independent writer: uncompressed,
    PackBits, and TIFF-LZW (early change), grayscale and RGB, multiple
    strips, horizontal predictor, both byte orders."""
    import numpy as np

    from magicxml_spark.sources.tiff_lite import decode_tiff

    rng = np.random.default_rng(3)
    w, h = 23, 11
    rgb = bytes(rng.integers(0, 256, size=w * h * 3, dtype=np.uint8))
    gray = bytes(rng.integers(0, 256, size=w * h, dtype=np.uint8))

    for comp in (1, 5, 32773):
        for endian in ("<", ">"):
            t = _write_tiff(w, h, "RGB", rgb, compression=comp, endian=endian,
                            rows_per_strip=4)
            assert decode_tiff(t) == (w, h, "RGB", rgb), (comp, endian)
        t = _write_tiff(w, h, "L", gray, compression=comp, rows_per_strip=3)
        assert decode_tiff(t) == (w, h, "L", gray), comp

    # LZW + predictor 2 (the libtiff default pairing)
    t = _write_tiff(w, h, "RGB", rgb, compression=5, predictor=2, rows_per_strip=5)
    assert decode_tiff(t) == (w, h, "RGB", rgb)

    # WhiteIsZero inverts
    t = _write_tiff(w, h, "L", gray, photometric=0)
    assert decode_tiff(t) == (w, h, "L", bytes(255 - b for b in gray))

    # LZW table growth past one width bump: long repetitive stream
    big = (b"abcd" * 700)[: 50 * 50]
    t = _write_tiff(50, 50, "L", big, compression=5)
    assert decode_tiff(t) == (50, 50, "L", big)

    # out-of-subset and junk bail to None
    assert decode_tiff(b"II*\x00garbage") is None
    assert decode_tiff(b"nottiff") is None


def test_tiff_via_image_lite_dispatch():
    from magicxml_spark.sources.image_lite import decode_image, sniff_format

    t = _write_tiff(5, 4, "L", bytes(range(20)))
    assert sniff_format(t) == "TIFF"
    fmt, w, h, mode, px = decode_image(t)
    assert (fmt, w, h, mode, px) == ("TIFF", 5, 4, "L", bytes(range(20)))


def test_progressive_jpeg_restart_markers():
    """DRI/RSTn inside progressive scans: predictors and EOB runs reset
    at every marker; the decode must still equal the baseline twin
    (which carries no restarts) bit-for-bit."""
    from magicxml_spark.sources.jpeg_lite import decode_jpeg
    from tools.jpeg_progressive_ref import (
        encode_baseline_from_coef,
        encode_progressive,
    )

    w, h, comps, qtables, coef, scans = _progressive_fixture()
    prog_rst = encode_progressive(
        w, h, comps, qtables, coef, scans, restart_interval=2
    )
    base = encode_baseline_from_coef(w, h, comps, qtables, coef)
    assert decode_jpeg(prog_rst) == decode_jpeg(base)
    assert b"\xff\xd0" in prog_rst or b"\xff\xd1" in prog_rst


def test_wav_extensible_format_and_tiff_palette():
    """WAVE_FORMAT_EXTENSIBLE headers with the PCM subformat decode;
    TIFF palette-color images map through the 16-bit ColorMap."""
    import struct as st

    from magicxml_spark.sources.riff_media import decode_wav
    from magicxml_spark.sources.tiff_lite import decode_tiff

    pcm = st.pack("<4h", 100, -100, 2000, -2000)
    fmt = st.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
    fmt += st.pack("<HHI", 22, 16, 1)  # cbSize, valid bits, channel mask
    fmt += st.pack("<H", 1) + b"\x00\x00" + b"\x00" * 12  # PCM subformat GUID
    chunks = b"fmt " + st.pack("<I", len(fmt)) + fmt
    chunks += b"data" + st.pack("<I", len(pcm)) + pcm
    wav = b"RIFF" + st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    assert decode_wav(wav) == (8000, 1, 16, 4, pcm)

    # 2x2 palette TIFF: indices 0..3 -> distinct colors
    import struct

    cmap_vals = []
    for chan in range(3):
        col = [0] * 256
        for i in range(4):
            col[i] = (10 + chan * 50 + i * 3) << 8
        cmap_vals += col
    idx = bytes([0, 1, 2, 3])
    bo = "<"
    tags = [
        (256, 3, [2]), (257, 3, [2]), (258, 3, [8]), (259, 3, [1]),
        (262, 3, [3]), (273, 4, [0]), (277, 3, [1]), (278, 3, [2]),
        (279, 4, [4]), (320, 3, cmap_vals),
    ]
    n = len(tags)
    ifd_off = 8
    extra_off = ifd_off + 2 + 12 * n + 4
    extra = bytearray()
    entries = b""
    strip_off_entry = None
    for tag, typ, vals in sorted(tags):
        size = {3: 2, 4: 4}[typ]
        fmtc = {3: "H", 4: "I"}[typ]
        raw = struct.pack(bo + fmtc * len(vals), *vals)
        if len(raw) <= 4:
            raw = raw + b"\x00" * (4 - len(raw))
        else:
            off = extra_off + len(extra)
            extra += struct.pack(bo + fmtc * len(vals), *vals)
            raw = struct.pack(bo + "I", off)
        entries += struct.pack(bo + "HHI", tag, typ, len(vals)) + raw
    data_off = extra_off + len(extra)
    # patch StripOffsets (tag 273, value currently 0)
    entries = entries.replace(
        struct.pack(bo + "HHI", 273, 4, 1) + struct.pack(bo + "I", 0),
        struct.pack(bo + "HHI", 273, 4, 1) + struct.pack(bo + "I", data_off),
    )
    tiff = (
        struct.pack(bo + "2sHI", b"II", 42, ifd_off)
        + struct.pack(bo + "H", n) + entries + struct.pack(bo + "I", 0)
        + bytes(extra) + idx
    )
    dec = decode_tiff(tiff)
    assert dec is not None
    w2, h2, mode, px = dec
    assert (w2, h2, mode) == (2, 2, "RGB")
    assert px[0:3] == bytes([10, 60, 110])       # index 0
    assert px[9:12] == bytes([10 + 9, 60 + 9, 110 + 9])  # index 3


# ---------------------------------------------------------------------------
# PDF 1.5 compressed cross-references (round 6: pdf_xref — XRef streams
# + object streams, ISO 32000-1 §7.5.7-7.5.8). Fixtures come from
# tools/pdf15_ref.py, an INDEPENDENT spec-derived writer sharing no
# code with pdf_lite/pdf_xref (the codec-fuzz pattern), so the
# round-trip is a genuine cross-check. Reference parity: main.py's
# pdfplumber/fitz open any xref flavor natively (main.py:981-1034,
# 1244-1381).
# ---------------------------------------------------------------------------


def _pdf15(**kw):
    import sys

    sys.path.insert(0, "tools")
    from pdf15_ref import write_pdf15

    return write_pdf15(**kw)


def test_pdf15_xref_stream_objstm_roundtrip():
    """Every structural variant a modern writer emits must round-trip:
    PNG-predictor-12 xref rows (the default encoding), unpredicted
    rows, split /Index subsections, and INDIRECT /Length content
    streams. Catalog/pages/page-dicts/font/Info all live in an ObjStm
    — invisible to the regex pass — so text extraction, Info metadata,
    and rasterization all prove the chain walk works."""
    import pytest

    from magicxml_spark.sources.pdf_lite import document_info, extract_text_pages
    from magicxml_spark.sources.pdf_raster import rasterize_text_pdf
    from magicxml_spark.sources.png_lite import decode_png

    lines = [["hello world", "alpha  beta"], ["page two text"]]
    for kw in (
        {},
        {"use_predictor": False},
        {"split_index": True},
        {"indirect_length": True},
    ):
        data = _pdf15(pages_lines=lines, title="XStream Doc", **kw)
        pages = extract_text_pages(data)
        assert [p for p in pages] == [
            ["hello world", "alpha  beta"],
            ["page two text"],
        ], kw
        info = document_info(data)
        assert info.get("Producer") == "pdf15-ref-writer", kw
        assert info.get("Title") == "XStream Doc", kw
        ras = rasterize_text_pdf(data, dpi=36)
        assert ras is not None and len(ras) == 2, kw
        w, h, png = ras[0]
        dw, dh, mode, pix = decode_png(png)
        assert (dw, dh) == (w, h) == (round(595 * 36 / 72), round(842 * 36 / 72))
        assert 0 in pix, "page 1 must carry glyph ink"


def test_pdf15_incremental_update_shadowing():
    """An incremental update (/Prev chain) appends a page by re-emitting
    the /Pages node in a SECOND ObjStm: newest-revision entries must
    shadow the originals (first-seen-wins walking newest-first), and
    truncating the file at the first %%EOF must yield the original two
    pages — the classic incremental-save property."""
    from magicxml_spark.sources.pdf_raster import rasterize_text_pdf
    from magicxml_spark.sources.pdf_xref import compressed_objects

    data = _pdf15(
        pages_lines=[["first"], ["second"]], incremental_page=["third page"]
    )
    body, stream = compressed_objects(data)[2]  # the /Pages node
    assert stream is None and b"/Count 3" in body
    assert len(rasterize_text_pdf(data, dpi=18)) == 3
    first_rev = data[: data.index(b"%%EOF") + 5]
    assert len(rasterize_text_pdf(first_rev, dpi=18)) == 2
    assert b"/Count 2" in compressed_objects(first_rev)[2][0]


def test_pdf15_hybrid_reference():
    """Hybrid files (§7.5.8.4) carry a CLASSIC table marking the
    ObjStm-packed objects free plus a trailer /XRefStm pointing at the
    real xref stream; the stream's entries must take precedence or
    every structure object looks deleted."""
    from magicxml_spark.sources.pdf_lite import document_info, extract_text_pages
    from magicxml_spark.sources.pdf_raster import rasterize_text_pdf
    from magicxml_spark.sources.pdf_xref import read_xref_chain

    data = _pdf15(pages_lines=[["hybrid line"]], hybrid=True)
    chain = read_xref_chain(data)
    assert chain[1][0] == 2, "catalog must resolve into the ObjStm"
    assert extract_text_pages(data) == [["hybrid line"]]
    assert document_info(data).get("Producer") == "pdf15-ref-writer"
    assert len(rasterize_text_pdf(data, dpi=18)) == 1


def test_pdf15_unsupported_filter_keeps_gate():
    """An xref stream with a filter we don't implement (LZWDecode)
    yields no entries — the callers keep their fitz gate instead of
    mis-parsing. FlateDecode spelled the same length keeps the fixture
    byte-aligned so only the filter name changes."""
    from magicxml_spark.sources.pdf_raster import rasterize_text_pdf
    from magicxml_spark.sources.pdf_xref import compressed_objects

    data = _pdf15(pages_lines=[["gated"]])
    xref_at = int(data.rsplit(b"startxref", 1)[1].split()[0])
    head, tail = data[:xref_at], data[xref_at:]
    # break ONLY the xref stream's filter (object streams keep theirs)
    broken = head + tail.replace(b"/Filter /FlateDecode", b"/Filter /LZW22Decode", 1)
    assert compressed_objects(broken) == {}
    assert rasterize_text_pdf(broken, dpi=18) is None  # page dicts unreachable


def test_pdf15_spark_documents_tables_and_images(spark, tmp_path, monkeypatch):
    """End-to-end S10/S9/K10 on a compressed-xref foreign PDF with NO
    pdf libraries installed: extract_pdf_documents reads text + the
    ObjStm-hidden Info metadata, extract_pdf_tables finds the
    whitespace-aligned table through the heuristic arm, and
    pdf_to_images rasterizes real PNG pages."""
    _fast_dpi(monkeypatch)
    import json

    from magicxml_spark.sources.binary_docs import (
        extract_pdf_documents,
        extract_pdf_tables,
        pdf_to_images,
        read_binary,
    )
    from magicxml_spark.sources.png_lite import decode_png

    data = _pdf15(
        pages_lines=[
            [
                "Quarterly Numbers",
                "region   units   revenue",
                "north    12      340.50",
                "south    7       120.25",
            ]
        ],
        title="Modern Writer Output",
    )
    (tmp_path / "modern.pdf").write_bytes(data)
    bin_df = read_binary(spark, str(tmp_path / "modern.pdf"))

    docs = extract_pdf_documents(bin_df).collect()
    assert len(docs) == 1 and docs[0]["pages_count"] == 1
    assert "Quarterly Numbers" in docs[0]["text"]
    assert json.loads(docs[0]["meta_json"])["Title"] == "Modern Writer Output"

    cells = [json.loads(r["cell_json"]) for r in extract_pdf_tables(bin_df).collect()]
    assert ["region", "units", "revenue"] in cells
    assert ["north", "12", "340.50"] in cells

    pages = pdf_to_images(bin_df, output_format="png").collect()
    assert len(pages) == 1
    w, h, mode, pix = decode_png(bytes(pages[0]["img_content"]))
    assert (w, h) == (round(595 * 36 / 72), round(842 * 36 / 72))
    assert 0 in pix


# ---------------------------------------------------------------------------
# Image-only foreign PDFs (round 6: S10/K10 gate narrowed to
# JPX/CCITT/JBIG2/ICC — DCTDecode + Flate-sample images render for real)
# ---------------------------------------------------------------------------


def _image_page_pdf(xobjects, content, indirect_resources=False):
    """Classic-xref foreign PDF: one 200x150 page drawing the given
    image XObjects. ``xobjects`` = [(name, dict_bytes, stream_bytes)].
    Written by the same independent in-test serializer as the foreign
    text fixtures — no pdf_lite writer involved."""
    from magicxml_spark.sources.pdf_lite import _serialize

    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    }
    next_num = 5
    entries = []
    for name, d, s in xobjects:
        objs[next_num] = (
            d + b"\nstream\n" + s + b"\nendstream"
        )
        entries.append(b"/" + name + b" %d 0 R" % next_num)
        next_num += 1
    res = b"<< /XObject << " + b" ".join(entries) + b" >> >>"
    if indirect_resources:
        objs[next_num] = res
        res_entry = b"/Resources %d 0 R" % next_num
        next_num += 1
    else:
        res_entry = b"/Resources " + res
    objs[3] = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 200 150] "
        + res_entry
        + b" /Contents 4 0 R >>"
    )
    objs[4] = (
        b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream"
    )
    objs[next_num] = b"<< /Producer (ScannerVendor 3.0) >>"
    return _serialize(objs, next_num)


def _page_pixels(pdf, dpi=72):
    from magicxml_spark.sources.pdf_raster import rasterize_pdf, rasterize_text_pdf
    from magicxml_spark.sources.png_lite import decode_png

    assert rasterize_pdf(pdf, dpi=dpi) is None  # foreign -> lite arm bails
    pages = rasterize_text_pdf(pdf, dpi=dpi)
    assert pages is not None and len(pages) == 1
    w, h, png = pages[0]
    dw, dh, mode, pix = decode_png(png)
    assert (dw, dh, mode) == (w, h, "RGB")
    return w, h, pix


def _px(pix, w, x, y):
    i = (y * w + x) * 3
    return tuple(pix[i : i + 3])


def test_rasterize_image_only_pdf_dctdecode():
    """An image-ONLY foreign PDF (no text anywhere) with a DCTDecode
    XObject renders through jpeg_lite — the exact case that hit the
    fitz gate before round 6. Page pixels equal decode_jpeg's output
    byte-for-byte (identity blit at dpi 72: rect == image dims)."""
    from magicxml_spark.sources.jpeg_lite import decode_jpeg, encode_jpeg

    iw, ih = 16, 12
    # flat color halves: lossy-stable content
    rgb = b"".join(
        (b"\xc8\x30\x30" if x < 8 else b"\x30\x30\xc8")
        for y in range(ih)
        for x in range(iw)
    )
    jpg = encode_jpeg(iw, ih, "RGB", rgb, quality=95)
    jw, jh, jmode, jpix = decode_jpeg(jpg)
    assert (jw, jh, jmode) == (iw, ih, "RGB")

    d = (
        b"<< /Type /XObject /Subtype /Image /Width 16 /Height 12 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length %d >>" % len(jpg)
    )
    # strip the in-dict stream framing; _image_page_pdf adds it
    pdf = _image_page_pdf(
        [(b"Im0", d, jpg)], b"q 16 0 0 12 30 40 cm /Im0 Do Q"
    )
    w, h, pix = _page_pixels(pdf)
    assert (w, h) == (200, 150)
    # rect (30, 40)-(46, 52): top row of the blit is page y = 150-40-12
    for ty in (0, 5, 11):
        for tx in (0, 7, 8, 15):
            got = _px(pix, w, 30 + tx, (150 - 40 - 12) + ty)
            want = tuple(jpix[(ty * iw + tx) * 3 : (ty * iw + tx) * 3 + 3])
            assert got == want, (tx, ty)
    # background stays white
    assert _px(pix, w, 5, 5) == (255, 255, 255)


def test_rasterize_image_pdf_flate_gray_predictor():
    """FlateDecode DeviceGray-8 samples behind a PNG predictor (one
    Sub-filtered row) expand to the exact gray levels."""
    import zlib

    iw, ih = 4, 3
    rows = [bytes([10, 60, 110, 160]), bytes([20, 70, 120, 170]), bytes([0, 255, 0, 255])]
    filtered = bytearray()
    filtered += b"\x00" + rows[0]
    sub = bytearray(rows[1])
    for i in range(len(sub) - 1, 0, -1):
        sub[i] = (sub[i] - rows[1][i - 1]) & 0xFF
    filtered += b"\x01" + bytes(sub)
    filtered += b"\x00" + rows[2]
    body = zlib.compress(bytes(filtered))
    d = (
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 3 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode "
        b"/DecodeParms << /Predictor 15 /Colors 1 /BitsPerComponent 8 /Columns 4 >> "
        b"/Length %d >>" % len(body)
    )
    pdf = _image_page_pdf([(b"Ig", d, body)], b"4 0 0 3 10 10 cm /Ig Do")
    w, h, pix = _page_pixels(pdf)
    top = 150 - 10 - 3
    for ty in range(3):
        for tx in range(4):
            g = rows[ty][tx]
            assert _px(pix, w, 10 + tx, top + ty) == (g, g, g), (tx, ty)


def test_rasterize_image_pdf_indexed_4bit_and_bilevel():
    """Indexed 4-bit samples resolve through a hex palette; a 1-bit
    DeviceGray image with /Decode [1 0] renders inverted; row padding
    to byte boundaries is honored on both."""
    pal = b"<FF000000FF000000FFFFFFFF>"  # red green blue white
    # indices: row0 0,1,2,3  row1 3,2,1,0 -> nibbles 01 23 / 32 10
    idx = bytes([0x01, 0x23, 0x32, 0x10])
    d1 = (
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 2 "
        b"/ColorSpace [/Indexed /DeviceRGB 3 " + pal + b"] "
        b"/BitsPerComponent 4 /Length %d >>" % len(idx)
    )
    # bilevel 10x2, Decode [1 0]: bit 1 -> BLACK (inverted)
    # row stride 2 bytes; row0 = 1111100000, row1 = 0000011111
    bits = bytes([0b11111000, 0x00, 0b00000111, 0b11000000])
    d2 = (
        b"<< /Type /XObject /Subtype /Image /Width 10 /Height 2 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 1 /Decode [1 0] "
        b"/Length %d >>" % len(bits)
    )
    pdf = _image_page_pdf(
        [(b"Ix", d1, idx), (b"Ib", d2, bits)],
        b"4 0 0 2 20 100 cm /Ix Do 10 0 0 2 20 50 cm /Ib Do",
        indirect_resources=True,
    )
    w, h, pix = _page_pixels(pdf)
    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    top = 150 - 100 - 2
    for tx, want in enumerate(colors):
        assert _px(pix, w, 20 + tx, top) == want, tx
        assert _px(pix, w, 20 + (3 - tx), top + 1) == want, tx
    top2 = 150 - 50 - 2
    for tx in range(5):
        assert _px(pix, w, 20 + tx, top2) == (0, 0, 0), tx          # row0 1s
        assert _px(pix, w, 20 + 5 + tx, top2) == (255, 255, 255)
        assert _px(pix, w, 20 + tx, top2 + 1) == (255, 255, 255)    # row1 0s
        assert _px(pix, w, 20 + 5 + tx, top2 + 1) == (0, 0, 0)


def test_pdf_to_images_renders_image_only_pdf(spark, tmp_path, monkeypatch):
    """K10 end-to-end: the image-only foreign PDF renders through the
    lite path (no fitz); an exotic-filter (JPXDecode) document still
    requires the gate."""
    _fast_dpi(monkeypatch, 72)
    import pytest

    from magicxml_spark.sources.jpeg_lite import encode_jpeg
    from magicxml_spark.sources.png_lite import decode_png

    rgb = bytes(3 * 16 * 12)
    jpg = encode_jpeg(16, 12, "RGB", rgb, quality=95)
    d = (
        b"<< /Type /XObject /Subtype /Image /Width 16 /Height 12 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length %d >>" % len(jpg)
    )
    (tmp_path / "scan.pdf").write_bytes(
        _image_page_pdf([(b"Im0", d, jpg)], b"16 0 0 12 30 40 cm /Im0 Do")
    )
    out = pdf_to_images(read_binary(spark, str(tmp_path))).collect()
    assert len(out) == 1
    dw, dh, mode, pix = decode_png(bytes(out[0]["img_content"]))
    assert (dw, dh) == (200, 150)
    # the blit region is (near-)black ink from the zero-filled JPEG
    i = ((150 - 40 - 6) * 200 + 38) * 3
    assert all(v < 32 for v in pix[i : i + 3])

    jpx = b"\x00\x00\x00\x0cjP  \r\n\x87\n" + bytes(64)
    dj = (
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /JPXDecode "
        b"/Length %d >>" % len(jpx)
    )
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "jpx.pdf").write_bytes(
        _image_page_pdf([(b"Im0", dj, jpx)], b"4 0 0 4 10 10 cm /Im0 Do")
    )
    with pytest.raises(Exception, match="fitz|pdf2image|NotImplemented"):
        pdf_to_images(read_binary(spark, str(tmp_path / "sub"))).collect()


def test_tiff_tiled_decode_matches_strip_twin():
    """Tiled TIFF (TIFF 6.0 §15): non-dividing tile sizes exercise
    right/bottom edge padding; every compression and both predictors
    must reproduce the strip-encoded twin's pixels exactly."""
    import hashlib

    from magicxml_spark.sources.tiff_lite import decode_tiff

    w, h = 13, 9
    for mode in ("RGB", "L"):
        ch = 3 if mode == "RGB" else 1
        pix = bytes(
            hashlib.md5(bytes([i % 253, i % 7])).digest()[0]
            for i in range(w * h * ch)
        )
        strip_ref = decode_tiff(_write_tiff(w, h, mode, pix))
        assert strip_ref is not None and bytes(strip_ref[3]) == pix
        for comp in (1, 5, 32773):
            for pred in (1, 2) if comp == 5 else (1,):
                for endian in ("<", ">"):
                    t = _write_tiff(
                        w, h, mode, pix, compression=comp, predictor=pred,
                        endian=endian, tile=(8, 4),
                    )
                    got = decode_tiff(t)
                    assert got is not None, (mode, comp, pred, endian)
                    assert got[:3] == (w, h, mode)
                    assert bytes(got[3]) == pix, (mode, comp, pred, endian)
    # exact-dividing tiles too (no padding branch)
    pix = bytes(range(8 * 4 * 3))
    t = _write_tiff(8, 4, "RGB", bytes(pix), tile=(4, 2))
    got = decode_tiff(t)
    assert got is not None and bytes(got[3]) == bytes(pix)


def test_tiff_planar_layout_stays_gated():
    """PlanarConfiguration=2 (separate planes) is out of subset — the
    strip path previously did not check the tag and would have
    misinterpreted plane-ordered bytes as chunky."""
    import struct as st

    from magicxml_spark.sources.tiff_lite import decode_tiff

    base = _write_tiff(4, 2, "RGB", bytes(24))
    assert decode_tiff(base) is not None
    # splice a PlanarConfiguration=2 tag into a rebuilt file is fiddly;
    # instead assert via the writer path: no chunky tag -> default 1 OK,
    # and a hand-patched tag 284=2 flips the gate. Tag entries are
    # 12 bytes starting at offset 10; patch the first tag slot's id if
    # unused is risky — so rebuild with an injected tag instead.
    bo = "<"
    n_tags = st.unpack(bo + "H", base[8:10])[0]
    # append tag 284 (type 3, count 1, value 2), keeping sort order by
    # inserting before 317/322/324 region: simplest rebuild — bump
    # count and append entry bytes before the next-IFD pointer, value
    # inline. Tag ids in the IFD must be ascending; 284 sorts after 279.
    entries = [base[10 + 12 * i : 22 + 12 * i] for i in range(n_tags)]
    new_entry = st.pack(bo + "HHI", 284, 3, 1) + st.pack(bo + "HH", 2, 0)
    ids = [st.unpack(bo + "H", e[:2])[0] for e in entries]
    import bisect

    pos = bisect.bisect_left(ids, 284)
    entries.insert(pos, new_entry)
    # all value offsets shift by 12 only if they point past the IFD —
    # rebuild is only valid when every remaining tag is inline or its
    # offset is adjusted; keep it simple: fixture uses inline values
    # except strip offsets/counts (type 4 arrays may be inline for 1
    # strip). 4x2 RGB single strip: offsets/counts are single values ->
    # inline. So a straight splice is safe.
    patched = (
        base[:8]
        + st.pack(bo + "H", n_tags + 1)
        + b"".join(entries)
        + base[10 + 12 * n_tags :]
    )
    # strip data offset moved by +12: fix the 273 entry's inline value
    out = bytearray(patched)
    at = 10
    for i in range(n_tags + 1):
        tag = st.unpack(bo + "H", out[at : at + 2])[0]
        if tag == 273:
            old = st.unpack(bo + "I", out[at + 8 : at + 12])[0]
            out[at + 8 : at + 12] = st.pack(bo + "I", old + 12)
        at += 12
    assert decode_tiff(bytes(out)) is None


def test_resolve_colorspace_cyclic_indirect_returns_none():
    """A crafted PDF whose /ColorSpace indirect reference points at an
    object that is itself a reference (including a self-cycle) must
    return None under the return-None-on-corrupt contract, not blow the
    task with RecursionError."""
    from magicxml_spark.sources.pdf_raster import _resolve_colorspace

    cyc = {5: (b"5 0 R", None)}  # obj 5 -> itself
    assert _resolve_colorspace(b"/ColorSpace 5 0 R", cyc) is None
    ab = {5: (b"6 0 R", None), 6: (b"5 0 R", None)}  # two-cycle
    assert _resolve_colorspace(b"/ColorSpace 5 0 R", ab) is None
    # one clean level of indirection still resolves
    ok = {7: (b"/DeviceRGB", None)}
    assert _resolve_colorspace(b"/ColorSpace 7 0 R", ok) == "rgb"
