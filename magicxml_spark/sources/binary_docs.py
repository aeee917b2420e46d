"""S9-S10: PDF sources over Spark's binaryFile format, with K8-K10
sink counterparts (reference main.py:886-1381). ``plans.convert``
routes single files through them.

The Spark-side plumbing (binaryFile scan, schema, Arrow-batched
``mapInPandas`` decode, lineage columns) is real and tested; the
third-party PDF/image codecs (pdfplumber, PIL, fitz, reportlab) are
optional, so each decode step is import-gated: with the libraries
present it runs them; without, the repo's own lite codecs
(``pdf_lite``, ``pdf_raster``, ``image_lite``, ``jpeg_lite``) handle
the inputs they understand, and anything else raises
NotImplementedError naming the missing library.

This module also stubs ``png_to_jpg`` — the reference CALLS
process_png_to_jpg (main.py:2078) but never defines it (latent
NameError); the engine implements the missing operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PDF_TABLE_SCHEMA = (
    "path string, pdf_page int, table_number int, cell_row int, cell_json string"
)
PDF_DOC_SCHEMA = "path string, pages_count int, text string, meta_json string"


def read_binary(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile scan: (path, modificationTime, length, content)."""
    return spark.read.format("binaryFile").load(path)


def _have(module: str) -> bool:
    try:
        __import__(module)
        return True
    except ImportError:
        return False


def extract_pdf_tables(binary_df: DataFrame) -> DataFrame:
    """S9 (main.py:914-978): per-page extract_tables with pdf_page /
    table_number lineage columns. Arrow-batched; one PDF per input row."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        use_real = _have("pdfplumber")
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                if use_real:
                    import io

                    import pdfplumber

                    with pdfplumber.open(io.BytesIO(content)) as doc:
                        for pageno, page in enumerate(doc.pages, 1):
                            for tno, tbl in enumerate(page.extract_tables() or [], 1):
                                for rno, row in enumerate(tbl):
                                    rows.append(
                                        (path, pageno, tno, rno, json.dumps(row))
                                    )
                    continue
                # no pdfplumber: pdf_lite reads back tables IT authored
                # (render_pdf_report / excel_to_pdf output — Producer-
                # marked fixed-layout lines); foreign PDFs fall through
                from magicxml_spark.sources import pdf_lite

                lite = pdf_lite.extract_table_rows(bytes(content))
                if lite:
                    for pageno, rno, cells in lite:
                        rows.append((path, pageno, 1, rno, json.dumps(cells)))
                    continue
                # foreign TEXT pdf, ruled layout first (the pdfplumber
                # 'lattice' analog — cell boundaries from line geometry,
                # text assigned by Tm/Td position), then the
                # whitespace-column heuristic; image-only/exotic PDFs
                # fall on the gate
                from magicxml_spark.sources.pdf_raster import (
                    extract_table_rows_ruled,
                )

                heur = extract_table_rows_ruled(
                    bytes(content)
                ) or pdf_lite.extract_table_rows_heuristic(bytes(content))
                if heur:
                    for pageno, tno, rno, cells in heur:
                        rows.append((path, pageno, tno, rno, json.dumps(cells)))
                else:
                    raise NotImplementedError(
                        "pdfplumber not installed and no table-like text "
                        "layout found; install pdfplumber to read this PDF"
                    )
            yield pd.DataFrame(
                rows, columns=["path", "pdf_page", "table_number", "cell_row", "cell_json"]
            )

    return binary_df.select("path", "content").mapInPandas(
        batches, schema=PDF_TABLE_SCHEMA
    )


def png_to_jpg(binary_df: DataFrame) -> DataFrame:
    """The operator the reference calls but never defines
    (process_png_to_jpg, main.py:2078). Returns (path, jpg_content)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        use_real = _have("PIL")
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                if use_real:
                    import io

                    from PIL import Image

                    with Image.open(io.BytesIO(content)) as im:
                        if im.mode in ("RGBA", "LA"):
                            bg = Image.new("RGB", im.size, (255, 255, 255))
                            bg.paste(im, mask=im.split()[-1])
                            im = bg
                        buf = io.BytesIO()
                        im.convert("RGB").save(buf, "JPEG", quality=95)
                        rows.append((path, buf.getvalue()))
                    continue
                # no PIL: lite decode (PNG/BMP/GIF) + jpeg_lite baseline
                # encode — the reference's undefined process_png_to_jpg
                from magicxml_spark.sources import image_lite, jpeg_lite, png_lite

                dec = image_lite.decode_image(bytes(content))
                if dec is not None:
                    _, w0, h0, mode, px = dec
                    rgb = png_lite.flatten_to_rgb(w0, h0, mode, px)
                    rows.append(
                        (path, jpeg_lite.encode_jpeg(w0, h0, "RGB", rgb, quality=95))
                    )
                else:
                    raise NotImplementedError(
                        "PIL not installed and not a lite-decodable "
                        "PNG/BMP/GIF; install Pillow to convert this image"
                    )
            yield pd.DataFrame(rows, columns=["path", "jpg_content"])

    return binary_df.select("path", "content").mapInPandas(
        batches, schema="path string, jpg_content binary"
    )


# K8 row cap of the reference's table report (main.py:1100).
PDF_REPORT_ROWS = 50


def render_pdf_report(df: DataFrame, out_path: str, title: str = "Report") -> str:
    """K8 for real (main.py:1056-1133): capped rows -> a paginated
    text-table PDF on disk. reportlab renders when installed (full
    Unicode fonts); otherwise sources/pdf_lite.py writes the document
    from the open PDF 1.4 spec — either way the caller gets an actual
    .pdf a viewer opens, and extract_pdf_tables reads the lite output
    back (round-trip test-pinned). Driver-side by design: the input is
    already capped at 50 rows, same as the reference's report surface."""
    capped = df.limit(PDF_REPORT_ROWS)
    columns = list(capped.columns)
    rows = [["" if v is None else str(v) for v in r] for r in capped.collect()]
    if _have("reportlab"):  # pragma: no cover - library absent in CI image
        from reportlab.lib.pagesizes import A4
        from reportlab.platypus import SimpleDocTemplate, Table

        doc = SimpleDocTemplate(out_path, pagesize=A4, title=title)
        doc.build([Table([columns] + rows)])
        return out_path
    from magicxml_spark.sources import pdf_lite

    with open(out_path, "wb") as fh:
        fh.write(pdf_lite.write_table_pdf(columns, rows, title=title))
    return out_path


def extract_pdf_documents(binary_df: DataFrame) -> DataFrame:
    """S10 (main.py:981-1034): whole-document extraction — page count,
    concatenated text, metadata JSON — one nested record per PDF."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        use_real = _have("pdfplumber")
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                if use_real:
                    import io

                    import pdfplumber

                    with pdfplumber.open(io.BytesIO(content)) as doc:
                        texts = [p.extract_text() or "" for p in doc.pages]
                        rows.append(
                            (
                                path,
                                len(doc.pages),
                                "\n".join(texts),
                                json.dumps(dict(doc.metadata or {})),
                            )
                        )
                    continue
                # no pdfplumber: pdf_lite handles text PDFs (its own
                # output AND foreign writers with plain/Flate text
                # streams); image-only/exotic PDFs fall through
                from magicxml_spark.sources import pdf_lite

                lite_pages = pdf_lite.extract_text_pages(bytes(content))
                if lite_pages:
                    rows.append(
                        (
                            path,
                            len(lite_pages),
                            "\n".join("\n".join(p) for p in lite_pages),
                            json.dumps(pdf_lite.document_info(bytes(content))),
                        )
                    )
                else:
                    raise NotImplementedError(
                        "pdfplumber not installed and no text streams found; "
                        "install pdfplumber to read this PDF"
                    )
            yield pd.DataFrame(rows, columns=["path", "pages_count", "text", "meta_json"])

    return binary_df.select("path", "content").mapInPandas(batches, schema=PDF_DOC_SCHEMA)


# --- K10: image -> PDF (reference main.py:1173-1241) ---------------------

#: A4 page box in points and the reference's px->pt ratio (72/96).
PDF_MAX_WIDTH_PT = 595.0
PDF_MAX_HEIGHT_PT = 842.0
PX_TO_PT = 72.0 / 96.0
PDF_MIN_PAGE_PT = 72.0
PDF_DEFAULT_DPI = 300  # reference default (main.py:2245, 2267)


def fit_image_to_pdf_page(width_px: int, height_px: int) -> dict[str, float]:
    """The reference's pt-scaling/centering math (main.py:1195-1225),
    as a pure function so it is testable without any codec.

    px -> pt at 72/96; images larger than A4 (595x842 pt) are scaled to
    fit and placed on an A4 page, smaller ones get a page of their own
    size; pages are floored at 72 pt per side; the image is centered.
    """
    img_w_pt = width_px * PX_TO_PT
    img_h_pt = height_px * PX_TO_PT
    if img_w_pt > PDF_MAX_WIDTH_PT or img_h_pt > PDF_MAX_HEIGHT_PT:
        scale = min(PDF_MAX_WIDTH_PT / img_w_pt, PDF_MAX_HEIGHT_PT / img_h_pt)
        pdf_w, pdf_h = img_w_pt * scale, img_h_pt * scale
        page_w, page_h = PDF_MAX_WIDTH_PT, PDF_MAX_HEIGHT_PT
    else:
        pdf_w, pdf_h = img_w_pt, img_h_pt
        page_w, page_h = img_w_pt, img_h_pt
    page_w = max(page_w, PDF_MIN_PAGE_PT)
    page_h = max(page_h, PDF_MIN_PAGE_PT)
    return {
        "page_width_pt": page_w,
        "page_height_pt": page_h,
        "pdf_width_pt": pdf_w,
        "pdf_height_pt": pdf_h,
        "x_offset_pt": (page_w - pdf_w) / 2,
        "y_offset_pt": (page_h - pdf_h) / 2,
    }


IMAGE_TO_PDF_SCHEMA = (
    "path string, pdf_filename string, page_width_pt double, page_height_pt double, "
    "pdf_width_pt double, pdf_height_pt double, x_offset_pt double, y_offset_pt double, "
    "pdf_content binary"
)


def image_to_pdf(binary_df: DataFrame) -> DataFrame:
    """K10 image->PDF (main.py:1173-1241): RGBA/LA flattened onto a
    white background, page sized by ``fit_image_to_pdf_page``, image
    centered, one PDF per input image named ``{base}.pdf``.

    The geometry columns are computed with the real reference math in
    every mode; only the pixel decode (PIL) and PDF render (reportlab)
    are import-gated."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import os

        use_real = _have("PIL") and _have("reportlab")
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                base = os.path.splitext(os.path.basename(path))[0]
                if use_real:  # pragma: no cover - codecs not in image
                    from PIL import Image
                    from reportlab.lib.utils import ImageReader
                    from reportlab.pdfgen import canvas

                    with Image.open(io.BytesIO(content)) as im:
                        if im.mode in ("RGBA", "LA"):
                            bg = Image.new("RGB", im.size, (255, 255, 255))
                            bg.paste(im, mask=im.split()[-1] if im.mode == "RGBA" else None)
                            im = bg
                        elif im.mode != "RGB":
                            im = im.convert("RGB")
                        geo = fit_image_to_pdf_page(im.width, im.height)
                        buf = io.BytesIO()
                        c = canvas.Canvas(
                            buf, pagesize=(geo["page_width_pt"], geo["page_height_pt"])
                        )
                        c.drawImage(
                            ImageReader(im),
                            geo["x_offset_pt"],
                            geo["y_offset_pt"],
                            geo["pdf_width_pt"],
                            geo["pdf_height_pt"],
                        )
                        c.save()
                        payload = buf.getvalue()
                    rows.append(
                        (
                            path,
                            f"{base}.pdf",
                            geo["page_width_pt"],
                            geo["page_height_pt"],
                            geo["pdf_width_pt"],
                            geo["pdf_height_pt"],
                            geo["x_offset_pt"],
                            geo["y_offset_pt"],
                            payload,
                        )
                    )
                    continue
                # no PIL/reportlab: lite decode (PNG/BMP/GIF/JPEG) +
                # pdf_lite image XObject embed — a real image PDF
                from magicxml_spark.sources import image_lite, pdf_lite, png_lite

                dec = image_lite.decode_image(bytes(content))
                if dec is not None:
                    _, w0, h0, mode, px = dec
                    geo = fit_image_to_pdf_page(w0, h0)
                    payload = pdf_lite.write_image_pdf(
                        png_lite.flatten_to_rgb(w0, h0, mode, px),
                        w0,
                        h0,
                        geo["page_width_pt"],
                        geo["page_height_pt"],
                        geo["pdf_width_pt"],
                        geo["pdf_height_pt"],
                        geo["x_offset_pt"],
                        geo["y_offset_pt"],
                        title=base,
                    )
                else:
                    raise NotImplementedError(
                        "PIL/reportlab not installed and not a lite-decodable "
                        "image; install Pillow and reportlab to convert it"
                    )
                rows.append(
                    (
                        path,
                        f"{base}.pdf",
                        geo["page_width_pt"],
                        geo["page_height_pt"],
                        geo["pdf_width_pt"],
                        geo["pdf_height_pt"],
                        geo["x_offset_pt"],
                        geo["y_offset_pt"],
                        payload,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path",
                    "pdf_filename",
                    "page_width_pt",
                    "page_height_pt",
                    "pdf_width_pt",
                    "pdf_height_pt",
                    "x_offset_pt",
                    "y_offset_pt",
                    "pdf_content",
                ],
            )

    return binary_df.select("path", "content").mapInPandas(
        batches, schema=IMAGE_TO_PDF_SCHEMA
    )


# --- K10: PDF -> images per page @ dpi (reference main.py:1244-1381) -----

PDF_TO_IMAGES_SCHEMA = (
    "path string, page int, page_filename string, width int, height int, "
    "img_content binary"
)


def pdf_to_images(
    binary_df: DataFrame,
    output_format: str = "png",
) -> DataFrame:
    """K10 pdf->image (main.py:1244-1381): render every page at
    ``PDF_DEFAULT_DPI`` (fitz matrix dpi/72, pdf2image fallback), one
    output row per page.

    Filenames follow the reference: a single-page PDF yields
    ``{base}.{fmt}``; a multipage one yields ``page_{n:03d}.{fmt}``
    entries destined for ``{base}_images.zip`` (see
    ``write_image_outputs`` for the zip assembly). The page fan-out is
    the Spark-side shape that scales — one task renders one PDF's
    pages, downstream operators see per-page rows.

    pdf_lite-authored documents AND mainstream foreign PDFs render
    for REAL without fitz: the embedded 5x7-font rasterizer
    (sources/pdf_raster.py) draws text pages, and image XObjects decode
    through the lite codecs — DCTDecode via jpeg_lite (baseline +
    progressive), FlateDecode samples (PNG/TIFF predictors) in
    DeviceRGB/DeviceGray/Indexed color, 1-bit stencils. Only
    JPX/CCITT/JBIG2/ICC-flavored or encrypted documents still fall
    through to the fitz gate below."""
    dpi = PDF_DEFAULT_DPI
    fmt = "jpg" if output_format.lower() == "jpg" else "png"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        from magicxml_spark.sources.pdf_raster import (
            rasterize_pdf,
            rasterize_text_pdf,
        )

        use_real = _have("fitz") or _have("pdf2image")
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                base = os.path.splitext(os.path.basename(path))[0]
                lite = None if use_real else rasterize_pdf(bytes(content), dpi)
                if lite is None and not use_real:
                    # foreign PDFs render through the same
                    # interpreter — text via the 5x7 font
                    # (layout-faithful, substituted glyphs), images via
                    # the lite codecs (DCT/Flate), compressed-xref and
                    # ObjStm files via pdf_xref; only exotic-filter
                    # (JPX/CCITT/JBIG2) or encrypted documents still
                    # fall to the fitz gate below
                    lite = rasterize_text_pdf(bytes(content), dpi)
                if use_real:  # pragma: no cover - codecs not in image
                    pages = _render_pdf_pages(bytes(content), fmt, dpi)
                elif lite is not None:
                    pages = [
                        (w, h, _encode_raster_png(img, fmt)) for w, h, img in lite
                    ]
                else:
                    raise NotImplementedError(
                        "fitz/pdf2image not installed and the PDF needs a "
                        "codec the lite renderer lacks; install PyMuPDF or "
                        "pdf2image to render it"
                    )
                single = len(pages) == 1
                for pageno, (w, h, img) in enumerate(pages, 1):
                    name = (
                        f"{base}.{fmt}" if single else f"page_{pageno:03d}.{fmt}"
                    )
                    rows.append((path, pageno, name, w, h, img))
            yield pd.DataFrame(
                rows,
                columns=["path", "page", "page_filename", "width", "height", "img_content"],
            )

    return binary_df.select("path", "content").mapInPandas(
        batches, schema=PDF_TO_IMAGES_SCHEMA
    )


def _encode_raster_png(png_bytes: bytes, fmt: str) -> bytes:
    """jpg requested -> transcode the rasterized PNG page through the
    lite codecs (decode_png -> encode_jpeg); png passes through."""
    if fmt != "jpg":
        return png_bytes
    from magicxml_spark.sources.jpeg_lite import encode_jpeg
    from magicxml_spark.sources.png_lite import decode_png, flatten_to_rgb

    w, h, mode, pix = decode_png(png_bytes)
    return encode_jpeg(w, h, "RGB", flatten_to_rgb(w, h, mode, pix), quality=95)


def _render_pdf_pages(content: bytes, fmt: str, dpi: int):  # pragma: no cover
    """Real render path: PyMuPDF first, pdf2image fallback — the
    reference's exact library preference (main.py:1249, 1324)."""
    import io

    pages = []
    try:
        import fitz

        doc = fitz.open(stream=content, filetype="pdf")
        try:
            for page in doc:
                pix = page.get_pixmap(matrix=fitz.Matrix(dpi / 72, dpi / 72))
                img = _encode_pix(pix.tobytes("png"), fmt)
                pages.append((pix.width, pix.height, img))
        finally:
            doc.close()
    except ImportError:
        from pdf2image import convert_from_bytes

        for im in convert_from_bytes(content, dpi=dpi):
            buf = io.BytesIO()
            if fmt == "jpg":
                if im.mode in ("RGBA", "LA"):
                    from PIL import Image

                    bg = Image.new("RGB", im.size, (255, 255, 255))
                    bg.paste(im, mask=im.split()[-1] if im.mode == "RGBA" else None)
                    im = bg
                elif im.mode != "RGB":
                    im = im.convert("RGB")
                im.save(buf, "JPEG", quality=95, optimize=True)
            else:
                im.save(buf, "PNG", optimize=True)
            pages.append((im.width, im.height, buf.getvalue()))
    return pages


def _encode_pix(png_bytes: bytes, fmt: str) -> bytes:  # pragma: no cover
    if fmt != "jpg":
        return png_bytes
    import io

    from PIL import Image

    with Image.open(io.BytesIO(png_bytes)) as im:
        if im.mode in ("RGBA", "LA"):
            bg = Image.new("RGB", im.size, (255, 255, 255))
            bg.paste(im, mask=im.split()[-1] if im.mode == "RGBA" else None)
            im = bg
        elif im.mode != "RGB":
            im = im.convert("RGB")
        buf = io.BytesIO()
        im.save(buf, "JPEG", quality=95, optimize=True)
        return buf.getvalue()


def write_image_outputs(images_df: DataFrame, out_dir: str) -> list[str]:
    """K10 delivery step (main.py:1259-1320): single-page PDFs produce a
    bare image file, multipage ones ``{base}_images.zip`` with
    ``page_{n:03d}.{fmt}`` members in page order.

    Driver-side by design — this is the bounded per-file export the
    reference serves over HTTP (100 MB envelope); page rows stream
    through ``toLocalIterator`` sorted by (path, page) so only one
    file's pages are held at a time. The distributed part (render) has
    already happened in ``pdf_to_images``."""
    import os
    import zipfile

    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []
    current_path, current_pages = None, []

    def flush(src_path: str, pages: list) -> None:
        base = os.path.splitext(os.path.basename(src_path))[0]
        if len(pages) == 1:
            target = os.path.join(out_dir, pages[0][0])
            with open(target, "wb") as fh:
                fh.write(pages[0][1])
        else:
            target = os.path.join(out_dir, f"{base}_images.zip")
            with zipfile.ZipFile(target, "w") as zf:
                for name, payload in pages:
                    zf.writestr(name, payload)
        written.append(target)

    ordered = images_df.select("path", "page", "page_filename", "img_content").sort(
        "path", "page"
    )
    for row in ordered.toLocalIterator():
        if row["path"] != current_path:
            if current_path is not None:
                flush(current_path, current_pages)
            current_path, current_pages = row["path"], []
        current_pages.append((row["page_filename"], bytes(row["img_content"])))
    if current_path is not None:
        flush(current_path, current_pages)
    return written
