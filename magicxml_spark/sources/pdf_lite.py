"""Minimal pure-stdlib PDF writer + text extractor (PDF 1.4 subset).

Same strategy as xlsx_lite: the sandbox has neither reportlab (K8/K9
render) nor pdfplumber/fitz (S9/S10 extraction), but the PDF document
format is an open ISO 32000 specification, and the subset the reference
pipeline exercises — tabular TEXT reports with row caps, then reading
the text back out — is implementable on ``zlib`` + ``re`` alone.

Writer (``write_table_pdf``): multi-page text report — title line,
header row, one fixed-layout line per data row — as uncompressed
content streams using the built-in Helvetica Type1 font (base-14 fonts
need no embedding), correct xref table + trailer. The row cap
(50) is applied by the CALLER (binary_docs.render_pdf_report),
mirroring reference main.py:1100.

Extractor (``extract_text_pages``): walks every stream object in
document order, inflates /FlateDecode streams with zlib (so PDFs from
real writers that compress text content also work), and collects the
text-showing operators ``Tj``/``TJ``/``'`` inside BT/ET blocks, one
string per output line. This is a TEXT extractor, not a layout engine:
image-only or exotic-encoding PDFs yield no pages and the caller falls
back to its gated path.

Both directions are driver/executor-local pure functions over bytes —
the distributed plumbing (binaryFile ingest, mapInPandas batching,
lineage columns) lives in sources/binary_docs.py and is unchanged.

Known limitation (documented, deterministic): the base-14 Helvetica
font covers the WinAnsi/Latin-1 repertoire only — writing wider
Unicode (e.g. Cyrillic) replaces unrepresentable characters with '?'.
Full Unicode needs an embedded TTF with a /ToUnicode CMap, which is
exactly where a real reportlab install takes over (the same font
registration the reference performs for its DejaVu output,
main.py:1056+).
"""

from __future__ import annotations

import re
import zlib

PRODUCER = "magicxml-pdf-lite"

_PAGE_W, _PAGE_H = 595, 842  # A4 in points
_MARGIN = 40
_LEAD = 14  # line leading at 10pt
_LINES_PER_PAGE = (_PAGE_H - 2 * _MARGIN) // _LEAD

CELL_SEP = " | "
# Characters each cell is truncated/padded to.
COL_WIDTH = 20


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _page_stream(lines: list[str]) -> bytes:
    ops = ["BT", "/F1 10 Tf", f"1 0 0 1 {_MARGIN} {_PAGE_H - _MARGIN} Tm",
           f"{_LEAD} TL"]
    for line in lines:
        ops.append(f"({_esc(line)}) '")  # ' = T* + Tj: next line, show
    ops.append("ET")
    return "\n".join(ops).encode("latin-1", "replace")


def _serialize(objs: dict[int, bytes], info_id: int) -> bytes:
    """Shared PDF body/xref/trailer emitter (both writers use it — one
    copy of the offset math to keep byte-format-identical)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    n = max(objs) + 1
    out += f"xref\n0 {n}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, n):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {n} /Root 1 0 R /Info {info_id} 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def write_table_pdf(
    columns: list[str],
    rows: list[list[str]],
    title: str = "Report",
) -> bytes:
    """Render (columns, rows) as a paginated text-table PDF; returns
    the document bytes. Cells are truncated/padded to ``COL_WIDTH`` and
    joined with ``CELL_SEP``; the width is recorded in the Info
    dictionary so the extractor splits cells POSITIONALLY — cell text
    containing the separator sequence itself round-trips intact."""

    def fmt(cells: list) -> str:
        return CELL_SEP.join(str(c)[:COL_WIDTH].ljust(COL_WIDTH) for c in cells)

    lines = [title, fmt(columns)]
    lines.extend(fmt(r) for r in rows)
    pages = [
        lines[i : i + _LINES_PER_PAGE]
        for i in range(0, len(lines), _LINES_PER_PAGE)
    ] or [[]]

    # object numbering: 1 catalog, 2 pages, 3 font, then per page:
    # (page object, content stream)
    objs: dict[int, bytes] = {}
    page_ids = [4 + 2 * i for i in range(len(pages))]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode()
    )
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for pid, page_lines in zip(page_ids, pages):
        stream = _page_stream(page_lines)
        objs[pid] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {_PAGE_W} {_PAGE_H}] "
            f"/Resources << /Font << /F1 3 0 R >> >> /Contents {pid + 1} 0 R >>"
        ).encode()
        objs[pid + 1] = (
            f"<< /Length {len(stream)} >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )
    info_id = max(objs) + 1
    objs[info_id] = (
        f"<< /Producer ({PRODUCER}) /Title ({_esc(title)}) "
        f"/MXSColW {COL_WIDTH} >>"
    ).encode()
    return _serialize(objs, info_id)


def write_image_pdf(
    rgb: bytes,
    width_px: int,
    height_px: int,
    page_w_pt: float,
    page_h_pt: float,
    draw_w_pt: float,
    draw_h_pt: float,
    x_off_pt: float,
    y_off_pt: float,
    title: str = "Image",
) -> bytes:
    """One-page PDF embedding raw RGB pixels as a FlateDecode
    /DeviceRGB image XObject, drawn at the geometry computed by
    binary_docs.fit_image_to_pdf_page (K10, reference main.py:
    1173-1241) — a real viewer-openable image PDF with no Pillow or
    reportlab."""
    pix = zlib.compress(rgb, 6)
    content = (
        f"q {draw_w_pt:.2f} 0 0 {draw_h_pt:.2f} {x_off_pt:.2f} {y_off_pt:.2f} cm "
        "/Im0 Do Q"
    ).encode()
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w_pt:.2f} {page_h_pt:.2f}] "
            "/Resources << /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>"
        ).encode(),
        4: f"<< /Length {len(content)} >>\nstream\n".encode() + content + b"\nendstream",
        5: (
            f"<< /Type /XObject /Subtype /Image /Width {width_px} /Height {height_px} "
            "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode "
            f"/Length {len(pix)} >>\nstream\n"
        ).encode()
        + pix
        + b"\nendstream",
        6: f"<< /Producer ({PRODUCER}) /Title ({_esc(title)}) >>".encode(),
    }
    return _serialize(objs, 6)


# --- extraction ----------------------------------------------------------------

_STREAM_RE = re.compile(
    rb"<<(.*?)>>\s*stream\r?\n(.*?)\r?\nendstream", re.DOTALL
)
# text-showing ops inside a content stream: (string) Tj, (string) ',
# and [ ... ] TJ arrays (kerned runs concatenate)
_SHOW_RE = re.compile(rb"\((?P<s>(?:\\.|[^\\()])*)\)\s*(?:Tj|')|\[(?P<a>[^\]]*)\]\s*TJ")
_ARR_STR_RE = re.compile(rb"\((?:\\.|[^\\()])*\)")
_ESCAPE_RE = re.compile(rb"\\([0-7]{1,3}|.)")
_ESC_MAP = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f"}


def _unescape(raw: bytes) -> str:
    # single left-to-right pass — sequential str.replace corrupts
    # adjacent escapes (r'\\n' must become backslash + n, not newline)
    def sub(m: re.Match) -> bytes:
        g = m.group(1)
        if g[:1].isdigit() and all(c in b"01234567" for c in g):
            return bytes([int(g, 8) & 0xFF])
        return _ESC_MAP.get(g, g)

    return _ESCAPE_RE.sub(sub, raw).decode("latin-1")


def extract_text_pages(data: bytes) -> list[list[str]]:
    """Text lines per content stream (== per page for single-content
    pages, which covers this writer and most simple generators).
    Returns [] when the bytes are not a parseable text PDF."""
    if not data.startswith(b"%PDF"):
        return []
    pages: list[list[str]] = []
    for m in _STREAM_RE.finditer(data):
        meta, body = m.group(1), m.group(2)
        if b"/FlateDecode" in meta:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue
        if b"BT" not in body:
            continue  # not a text content stream (font file, image, ...)
        lines = []
        for sm in _SHOW_RE.finditer(body):
            if sm.group("s") is not None:
                lines.append(_unescape(sm.group("s")))
            else:
                run = b"".join(
                    x[1:-1] for x in _ARR_STR_RE.findall(sm.group("a"))
                )
                lines.append(_unescape(run))
        if lines:
            pages.append(lines)
    return pages


_INFO_KEY_RE = re.compile(rb"/(Producer|Title|Author|Subject|Creator)\s*\(((?:\\.|[^\\()])*)\)")


def document_info(data: bytes) -> dict[str, str]:
    """Best-effort Info-dictionary string entries (Producer, Title, …)
    — enough metadata parity for text PDFs without an object parser.
    When the Info dictionary hides inside a /Type /ObjStm (every modern
    writer), pdf_xref's chain walk recovers it first."""
    out = {
        m.group(1).decode(): _unescape(m.group(2))
        for m in _INFO_KEY_RE.finditer(data)
    }
    if not out:
        from magicxml_spark.sources.pdf_xref import (
            compressed_objects,
            has_compressed_xref,
        )

        if has_compressed_xref(data):
            for body, _ in compressed_objects(data).values():
                for m in _INFO_KEY_RE.finditer(body):
                    out.setdefault(m.group(1).decode(), _unescape(m.group(2)))
    return out


def extract_table_rows(data: bytes) -> list[tuple[int, int, list[str]]]:
    """(page_no, row_no, cells) for PDFs authored by write_table_pdf —
    recognized via the Producer marker; the fixed-layout CELL_SEP
    lines split back into stripped cells. Returns [] for foreign PDFs
    (the caller keeps its gated path for those)."""
    if PRODUCER.encode() not in data:
        return []
    m = re.search(rb"/MXSColW\s+(\d+)", data)
    colw = int(m.group(1)) if m else None
    out = []
    for pageno, lines in enumerate(extract_text_pages(data), 1):
        rowno = 0
        # the writer's fixed structure: page 1 line 1 is the title,
        # everything else is a table line (a single-column table has
        # no CELL_SEP to sniff, so structure beats content here)
        body = lines[1:] if pageno == 1 else lines
        for line in body:
            if colw:
                # positional split on the recorded column width: cell
                # text containing the separator sequence stays ONE cell
                cells = [
                    line[i : i + colw].strip()
                    for i in range(0, len(line), colw + len(CELL_SEP))
                ]
            else:  # pre-MXSColW documents
                cells = [c.strip() for c in line.split(CELL_SEP)]
            out.append((pageno, rowno, cells))
            rowno += 1
    return out


def extract_table_rows_heuristic(data: bytes) -> list[tuple[int, int, int, list[str]]]:
    """(page_no, table_no, row_no, cells) for FOREIGN text PDFs — the
    pdfplumber-free arm of S9's table extraction (reference
    main.py:914-978 uses pdfplumber's layout engine; this is the
    text-layout analog of the heuristic parse/lang-id family).

    Method: consecutive lines whose text splits into >= 2 segments on
    2+-space runs form a table block; within a block, character
    columns that are whitespace in EVERY line mark the separators
    (runs of >= 2 such columns split cells positionally — the classic
    monospace-layout detection), with a per-line 2+-space split as the
    ragged fallback. Cells that are pure table furniture (|, +, -, :)
    are dropped. Returns [] when the bytes yield no text pages or no
    block qualifies — callers fall to their library gate."""
    pages = extract_text_pages(data)
    out: list[tuple[int, int, int, list[str]]] = []
    furniture = re.compile(r"^[|+\-:=]*$")
    for pageno, lines in enumerate(pages, 1):
        blocks: list[list[str]] = []
        cur: list[str] = []
        for ln in lines:
            segs = [s for s in re.split(r"\s{2,}", ln.strip()) if s]
            if len(segs) >= 2:
                cur.append(ln)
            else:
                if len(cur) >= 2:
                    blocks.append(cur)
                cur = []
        if len(cur) >= 2:
            blocks.append(cur)
        for tno, block in enumerate(blocks, 1):
            width = max(len(ln) for ln in block)
            padded = [ln.ljust(width) for ln in block]
            is_sep = [all(p[i] == " " for p in padded) for i in range(width)]
            # split points: runs of >= 2 all-line whitespace columns
            spans: list[tuple[int, int]] = []
            start, run_start = 0, None
            i = 0
            while i <= width:
                if i < width and is_sep[i]:
                    if run_start is None:
                        run_start = i
                else:
                    if run_start is not None and i - run_start >= 2:
                        if run_start > start:
                            spans.append((start, run_start))
                        start = i
                    run_start = None
                i += 1
            if width > start:
                spans.append((start, width))
            for rno, ln in enumerate(padded):
                if len(spans) >= 2:
                    cells = [ln[a:b].strip() for a, b in spans]
                else:  # ragged layout: per-line split fallback
                    cells = [s for s in re.split(r"\s{2,}", ln.strip()) if s]
                cells = [c for c in cells if not furniture.match(c)] or [""]
                out.append((pageno, tno, rno, cells))
    return out
