"""Minimal pure-stdlib .xlsx reader/writer (ECMA-376 / ISO 29500 OOXML).

The sandbox ships no openpyxl, which kept S7 (Excel source) and K5
(Excel sink) gated behind NotImplementedError since round 1. An .xlsx
file is just a ZIP of small XML parts, all publicly specified, so the
subset the reference actually exercises (single sheet, string/number
cells, header row, column auto-width — main.py:683-718, 734) is
implementable on ``zipfile`` + ``xml.etree`` alone. This module is
that subset, written from the published package structure:

* ``read_rows(path)``  -> header + string rows from the first sheet.
  Handles inline strings, shared strings, formula-cached strings,
  booleans and raw numbers; sparse rows are filled with '' by cell
  reference, matching how pandas/openpyxl surface blank cells.
* ``write_rows(path, columns, rows)`` -> a complete single-sheet
  package (content types, package + workbook rels, workbook, sheet)
  with the reference's per-column auto-width rule
  ``min(max_len + 2, 50)`` (main.py:683-718). Every cell is written as
  an inline string: the engine's Excel sink is a presentation surface
  for already-typed DataFrames, and inline strings round-trip exactly
  with no sharedStrings indirection.

Scale note: both directions are DRIVER-side by design, same as the
reference (uploads capped at 100 MB) — the callers in excel.py bound
rows explicitly. Nothing here touches executors.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET

_NS_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_NS_DOC_REL = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
)
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(letters: str) -> int:
    """'A' -> 0, 'Z' -> 25, 'AA' -> 26 (base-26 bijective numeration)."""
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _col_letters(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


# --- reader -------------------------------------------------------------------


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    out = []
    for si in root.findall(f"{{{_NS_MAIN}}}si"):
        # a shared string is plain <t> or rich-text runs <r><t>..; both
        # flatten to the concatenation of every descendant <t>
        out.append("".join(t.text or "" for t in si.iter(f"{{{_NS_MAIN}}}t")))
    return out


def _first_sheet_path(zf: zipfile.ZipFile) -> str:
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    sheets = wb.find(f"{{{_NS_MAIN}}}sheets")
    first = sheets[0]
    rid = first.get(f"{{{_NS_DOC_REL}}}id")
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    for rel in rels.findall(f"{{{_NS_PKG_REL}}}Relationship"):
        if rel.get("Id") == rid:
            target = rel.get("Target")
            return target if target.startswith("xl/") else f"xl/{target}"
    raise ValueError(f"workbook relationship {rid!r} not found")


def _cell_value(cell: ET.Element, shared: list[str]) -> str:
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{{{_NS_MAIN}}}is")
        if is_el is None:
            return ""
        return "".join(t.text or "" for t in is_el.iter(f"{{{_NS_MAIN}}}t"))
    v = cell.find(f"{{{_NS_MAIN}}}v")
    raw = v.text if v is not None and v.text is not None else ""
    if ctype == "s":
        return shared[int(raw)] if raw else ""
    if ctype == "b":
        return "True" if raw == "1" else "False"
    return raw  # 'n' (number) and 'str' (formula cache): verbatim text


def read_rows(path: str) -> tuple[list[str], list[list[str]]]:
    """First sheet -> (header, data rows), every cell a string. The
    header is row 1; short rows are padded to the widest row with ''."""
    with zipfile.ZipFile(path) as zf:
        shared = _shared_strings(zf)
        sheet = ET.fromstring(zf.read(_first_sheet_path(zf)))
        rows: list[list[str]] = []
        for row in sheet.iter(f"{{{_NS_MAIN}}}row"):
            cells: dict[int, str] = {}
            next_idx = 0
            for cell in row.findall(f"{{{_NS_MAIN}}}c"):
                ref = cell.get("r")
                if ref:
                    m = _CELL_REF.match(ref)
                    idx = _col_index(m.group(1)) if m else next_idx
                else:  # writers may omit r: cells are then sequential
                    idx = next_idx
                cells[idx] = _cell_value(cell, shared)
                next_idx = idx + 1
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i, "") for i in range(width)])
    if not rows:
        return [], []
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    return rows[0], rows[1:]


# --- writer -------------------------------------------------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)

_PKG_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_NS_PKG_REL}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)

_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_NS_PKG_REL}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _workbook_xml(sheet_name: str) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS_MAIN}" xmlns:r="{_NS_DOC_REL}">'
        f'<sheets><sheet name="{_esc(sheet_name)}" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def column_width(header: str, values: list[str]) -> int:
    """The reference's auto-width: min(longest cell + 2, 50)
    (main.py:683-718; width sampling bounded by the caller)."""
    longest = max([len(header)] + [len(v) for v in values]) if values else len(header)
    return min(longest + 2, 50)


# Rows the column auto-width rule looks at.
WIDTH_SAMPLE_ROWS = 1000


def write_rows(path: str, columns: list[str], rows: list[list[str]]) -> str:
    """Write (columns, rows) as a single-sheet .xlsx. All cells are
    inline strings; column widths follow the reference auto-width rule
    computed over the first ``WIDTH_SAMPLE_ROWS`` rows."""
    # ragged rows are legal everywhere else in this writer (row_xml
    # emits what it gets) — the width sampler must tolerate them too
    cols_xml = "".join(
        f'<col min="{i + 1}" max="{i + 1}" '
        f'width="{column_width(str(c), [str(r[i]) for r in rows[:WIDTH_SAMPLE_ROWS] if i < len(r)])}" '
        'customWidth="1"/>'
        for i, c in enumerate(columns)
    )

    def row_xml(rnum: int, cells: list) -> str:
        parts = [f'<row r="{rnum}">']
        for i, v in enumerate(cells):
            ref = f"{_col_letters(i)}{rnum}"
            parts.append(
                f'<c r="{ref}" t="inlineStr"><is>'
                f'<t xml:space="preserve">{_esc(str(v))}</t></is></c>'
            )
        parts.append("</row>")
        return "".join(parts)

    body = [row_xml(1, list(columns))]
    body.extend(row_xml(i + 2, list(r)) for i, r in enumerate(rows))
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS_MAIN}">'
        f"<cols>{cols_xml}</cols>"
        f"<sheetData>{''.join(body)}</sheetData>"
        "</worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _PKG_RELS)
        zf.writestr("xl/workbook.xml", _workbook_xml("Data"))
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return path
