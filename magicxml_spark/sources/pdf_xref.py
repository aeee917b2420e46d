"""PDF 1.5+ compressed cross-references: XRef streams + object streams.

Sixth member of the lite-codec family (ISO 32000-1 §7.5.7 cross-
reference streams, §7.5.8 / §7.4.4.4 object streams, §7.4.4.3 PNG
predictors). The reference pipeline opens ANY foreign PDF through
PyMuPDF / pdfplumber (main.py:981-1034 text + tables, main.py:1244-1381
render), both of which parse compressed xrefs natively; without this
module our regex-based object walk only sees objects serialized at the
TOP level of the file, and every PDF written in the last ~15 years
(catalog / page dicts / Info packed into /Type /ObjStm streams, located
via a /Type /XRef stream instead of a classic ``xref`` table) fell to
the fitz gate even when its content is plain FlateDecode text we can
already extract and rasterize.

What this implements, from the spec alone:

- ``read_xref_chain``: walk ``startxref`` -> xref at offset -> /Prev
  chain, newest-first (first entry per object number wins, which is the
  incremental-update rule). Both flavors participate in one chain:
  classic ``xref`` tables (with their trailer's /Prev and the hybrid
  /XRefStm pointer) and XRef STREAMS — /W field widths, /Index
  subsections, FlateDecode + optional PNG /Predictor (the unfilter is
  shared with png_lite — an XRef stream predictor IS a PNG scanline
  filter over ``/Columns``-byte rows).
- ``compressed_objects``: materialize every object the chain knows:
  type-1 entries parse at their byte offset (nesting-aware dictionary
  scan + spec /Length slicing, resolving indirect /Length refs through
  the same chain — no ``endstream`` guessing); type-2 entries unpack
  from their /Type /ObjStm container (/N pairs of ``objnum offset``
  after /First).

Consumers: pdf_raster._objects merges this over its regex pass (page
dicts in ObjStm become visible to the rasterizer and the ruled-table
extractor), pdf_lite.document_info finds Info dictionaries hidden in
object streams. Anything genuinely undecodable (non-Flate xref filters,
encrypted files) raises/returns {} and the callers keep their gates.

Like the other lite codecs this is a driver/executor-local pure
function over bytes; the distributed plumbing in binary_docs.py is
unchanged.
"""

from __future__ import annotations

import re
import zlib

from magicxml_spark.sources.png_lite import _unfilter

_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
# xref sections read per file: bounds a /Prev chain that a malformed or
# hostile file makes long or cyclic
MAX_XREF_SECTIONS = 64
_STREAM_KW_RE = re.compile(rb"\s*stream(\r\n|\n|\r)")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_INT_AFTER = {
    key: re.compile(rb"/" + key + rb"\s+(\d+)(?!\s+0\s+R)")
    for key in (b"Size", b"Prev", b"XRefStm", b"First", b"N", b"Length",
                b"Predictor", b"Columns", b"Colors", b"BitsPerComponent")
}
_ARR_AFTER = {
    key: re.compile(rb"/" + key + rb"\s*\[([^\]]*)\]")
    for key in (b"W", b"Index")
}
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+0\s+R")


def _int_key(d: bytes, key: bytes) -> int | None:
    m = _INT_AFTER[key].search(d)
    return int(m.group(1)) if m else None


def _arr_key(d: bytes, key: bytes) -> list[int] | None:
    m = _ARR_AFTER[key].search(d)
    if not m:
        return None
    return [int(t) for t in m.group(1).split()]


def _balanced_dict(data: bytes, start: int) -> tuple[int, int] | None:
    """Byte span (begin, end) of the ``<< ... >>`` dictionary at/after
    ``start`` — nesting-aware (so /DecodeParms << ... >> doesn't
    truncate the scan) and literal-string-aware (a ``>>`` inside a
    ``(...)`` string is data, not a close)."""
    i = data.find(b"<<", start)
    if i < 0:
        return None
    j, depth, n = i, 0, len(data)
    while j < n:
        two = data[j : j + 2]
        if two == b"<<":
            depth += 1
            j += 2
            continue
        if two == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return i, j
            continue
        if data[j] == 0x28:  # ( — literal string, skip balanced w/ escapes
            j += 1
            d = 1
            while j < n and d:
                c = data[j]
                if c == 0x5C:
                    j += 2
                    continue
                if c == 0x28:
                    d += 1
                elif c == 0x29:
                    d -= 1
                j += 1
            continue
        j += 1
    return None


def _decode_stream(dict_bytes: bytes, raw: bytes) -> bytes | None:
    """Apply /Filter (FlateDecode or none) + /DecodeParms predictor.
    None for filters we don't implement — the caller keeps its gate."""
    fm = re.search(rb"/Filter\s*/(\w+)", dict_bytes)
    if fm is None and re.search(rb"/Filter\s*\[", dict_bytes):
        return None  # filter arrays (cascades) — out of scope
    body = raw
    if fm is not None:
        if fm.group(1) != b"FlateDecode":
            return None
        try:
            body = zlib.decompress(raw)
        except zlib.error:
            return None
    pred = _int_key(dict_bytes, b"Predictor") or 1
    if pred == 1:
        return body
    columns = _int_key(dict_bytes, b"Columns") or 1
    colors = _int_key(dict_bytes, b"Colors") or 1
    bpc = _int_key(dict_bytes, b"BitsPerComponent") or 8
    bpp = max(1, colors * bpc // 8)
    row = columns * bpp
    if pred >= 10:
        # PNG predictors: each row is 1 filter byte + ``row`` data bytes
        # — exactly a PNG scanline block, so png_lite's unfilter applies
        # (PDF spec: the per-row tag selects the filter, as in PNG)
        h = len(body) // (row + 1)
        out = _unfilter(body, 0, row // bpp, h, bpp)
        return bytes(out) if out is not None else None
    if pred == 2:  # TIFF horizontal differencing, 8-bit components
        if bpc != 8:
            return None
        out2 = bytearray(body)
        for r0 in range(0, len(out2) - row + 1, row):
            for i in range(bpp, row):
                out2[r0 + i] = (out2[r0 + i] + out2[r0 + i - bpp]) & 0xFF
        return bytes(out2)
    return None


def _object_at(
    data: bytes, offset: int
) -> tuple[int, bytes, bytes | None, int | None] | None:
    """Parse the indirect object serialized at ``offset``: returns
    (num, dict/body bytes, raw stream bytes or None, indirect /Length
    object number when the stream length is a reference — caller
    resolves and re-slices). Stream bytes are sliced by /Length when
    direct (spec-correct, no ``endstream`` guessing); an indirect
    length falls back to an ``endstream`` scan, reported via the 4th
    element so the caller may re-slice exactly."""
    if offset < 0 or offset >= len(data):
        return None
    m = _OBJ_HEAD_RE.match(data, offset)
    if m is None:
        # tolerate leading whitespace/newlines before the header
        m2 = _OBJ_HEAD_RE.search(data, offset, min(len(data), offset + 64))
        if m2 is None:
            return None
        m = m2
    num = int(m.group(1))
    span = _balanced_dict(data, m.end())
    if span is None:
        # non-dict object (e.g. a bare integer /Length target)
        end = data.find(b"endobj", m.end())
        if end < 0:
            return None
        return num, data[m.end() : end].strip(), None, None
    d = data[span[0] : span[1]]
    sm = _STREAM_KW_RE.match(data, span[1])
    if sm is None:
        return num, d, None, None
    body_at = sm.end()
    length = None
    ref = None
    lm = _LENGTH_REF_RE.search(d)
    if lm:
        ref = int(lm.group(1))
    else:
        length = _int_key(d, b"Length")
    if length is not None:
        return num, d, data[body_at : body_at + length], None
    end = data.find(b"endstream", body_at)
    if end < 0:
        return None
    return num, d, data[body_at:end].rstrip(b"\r\n"), ref


def _parse_xref_stream(
    dict_bytes: bytes, payload: bytes
) -> dict[int, tuple] | None:
    """Entries of one decoded XRef stream: objnum -> (1, offset) |
    (2, container_objnum, index_in_container). Free (type-0) entries
    are recorded as (0,) so newer-revision frees still shadow older
    in-use entries during the chain merge."""
    w = _arr_key(dict_bytes, b"W")
    size = _int_key(dict_bytes, b"Size")
    if not w or len(w) != 3 or size is None:
        return None
    index = _arr_key(dict_bytes, b"Index") or [0, size]
    rec = sum(w)
    entries: dict[int, tuple] = {}
    pos = 0
    for i in range(0, len(index) - 1, 2):
        first, count = index[i], index[i + 1]
        for objnum in range(first, first + count):
            if pos + rec > len(payload):
                return entries  # truncated tail: keep what parsed
            fields = []
            for width in w:
                fields.append(
                    int.from_bytes(payload[pos : pos + width], "big")
                    if width
                    else None
                )
                pos += width
            ftype = fields[0] if w[0] else 1  # default type is 1 per spec
            if ftype == 1 and fields[1] is not None:
                entries[objnum] = (1, fields[1])
            elif ftype == 2 and fields[1] is not None and fields[2] is not None:
                entries[objnum] = (2, fields[1], fields[2])
            else:
                # free entry — or a degenerate W that zeroed a field
                # this type needs (treat as free rather than crash on a
                # None offset downstream)
                entries[objnum] = (0,)
    return entries


def _parse_classic_xref(data: bytes, offset: int):
    """Classic ``xref`` table at ``offset``: returns (entries, trailer
    dict bytes) or None. Hybrid files chain to an /XRefStm as well."""
    m = re.compile(rb"xref\s*").match(data, offset)
    if m is None:
        return None
    pos = m.end()
    entries: dict[int, tuple] = {}
    sub_re = re.compile(rb"(\d+)\s+(\d+)\s*")
    line_re = re.compile(rb"(\d{10})\s(\d{5})\s([nf])\s?\s?")
    while True:
        sm = sub_re.match(data, pos)
        if sm is None:
            break
        first, count = int(sm.group(1)), int(sm.group(2))
        pos = sm.end()
        for objnum in range(first, first + count):
            lm = line_re.match(data, pos)
            if lm is None:
                return None
            pos = lm.end()
            if lm.group(3) == b"n":
                entries[objnum] = (1, int(lm.group(1)))
            else:
                entries[objnum] = (0,)
    tm = re.compile(rb"\s*trailer\s*").match(data, pos)
    if tm is None:
        return entries, b""
    span = _balanced_dict(data, tm.end())
    return entries, (data[span[0] : span[1]] if span else b"")


def read_xref_chain(data: bytes) -> dict[int, tuple]:
    """Merged xref entries across the /Prev chain, newest revision
    first (first entry per object number wins — the incremental-update
    shadowing rule). Handles classic tables, XRef streams, and hybrid
    /XRefStm pointers. Returns {} when no ``startxref`` parses."""
    matches = list(_STARTXREF_RE.finditer(data))
    if not matches:
        return {}
    merged: dict[int, tuple] = {}
    seen: set[int] = set()

    def merge_stream_at(off: int) -> int | None:
        """Parse an XRef STREAM at ``off`` into ``merged``; returns its
        /Prev offset (or None)."""
        obj = _object_at(data, off)
        if obj is None or obj[2] is None:
            return None
        _, d, raw, _ = obj
        payload = _decode_stream(d, raw)
        if payload is None:
            return None
        entries = _parse_xref_stream(d, payload)
        if entries:
            for k, v in entries.items():
                merged.setdefault(k, v)
        return _int_key(d, b"Prev")

    queue = [int(matches[-1].group(1))]
    while queue and len(seen) < MAX_XREF_SECTIONS:
        off = queue.pop(0)
        if off in seen or off < 0 or off >= len(data):
            continue
        seen.add(off)
        classic = _parse_classic_xref(data, off)
        if classic is not None:
            entries, trailer = classic
            # hybrid-reference rule (§7.5.8.4): the /XRefStm's entries
            # take precedence over this table's (which marks the
            # ObjStm-compressed objects free for pre-1.5 readers) —
            # merge the stream FIRST at this revision
            hyb = _int_key(trailer, b"XRefStm")
            if hyb is not None and hyb not in seen:
                seen.add(hyb)
                merge_stream_at(hyb)
            for k, v in entries.items():
                merged.setdefault(k, v)
            prev = _int_key(trailer, b"Prev")
            if prev is not None:
                queue.append(prev)
            continue
        prev = merge_stream_at(off)
        if prev is not None:
            queue.append(prev)
    return merged


def compressed_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Every object reachable through the xref chain:
    num -> (dict/body bytes, decoded-slice raw stream bytes or None).

    Type-1 entries parse at their recorded offset (indirect /Length
    refs resolved through the chain, then the stream re-sliced to the
    exact length); type-2 entries unpack from their /Type /ObjStm
    container. Undecodable containers are skipped — partial results
    are still useful (the regex pass covers top-level objects)."""
    chain = read_xref_chain(data)
    out: dict[int, tuple[bytes, bytes | None]] = {}
    pending_len: list[tuple[int, int, int]] = []  # (num, offset, len_ref)
    for objnum, ent in chain.items():
        if ent[0] != 1:
            continue
        parsed = _object_at(data, ent[1])
        if parsed is None or parsed[0] != objnum:
            continue  # stale/corrupt offset: leave to the regex pass
        num, d, raw, len_ref = parsed
        out[num] = (d, raw)
        if raw is not None and len_ref is not None:
            pending_len.append((num, ent[1], len_ref))
    # resolve indirect /Length refs now every direct object is parsed
    for num, off, ref in pending_len:
        target = out.get(ref)
        if target is None:
            continue
        try:
            length = int(target[0])
        except ValueError:
            continue
        parsed = _object_at(data, off)
        if parsed is None:
            continue
        _, d, _, _ = parsed
        sm_span = _balanced_dict(data, off)
        sm = _STREAM_KW_RE.match(data, sm_span[1]) if sm_span else None
        if sm is not None:
            out[num] = (d, data[sm.end() : sm.end() + length])
    # unpack object streams
    containers = sorted(
        {ent[1] for ent in chain.values() if ent[0] == 2}
    )
    for cnum in containers:
        cd = out.get(cnum)
        if cd is None or cd[1] is None:
            continue
        d, raw = cd
        if b"/ObjStm" not in d:
            continue
        payload = _decode_stream(d, raw)
        n = _int_key(d, b"N")
        first = _int_key(d, b"First")
        if payload is None or n is None or first is None:
            continue
        header = payload[:first].split()
        if len(header) < 2 * n:
            continue
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
        ]
        for i, (objnum, rel) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(payload) - first
            body = payload[first + rel : first + end].strip()
            # chain shadowing: only keep it if the chain still points
            # this objnum INTO this container at this index
            ent = chain.get(objnum)
            if ent is not None and ent[0] == 2 and ent[1] == cnum:
                out[objnum] = (body, None)
    return {k: v for k, v in out.items() if chain.get(k, (1,))[0] != 0}


def has_compressed_xref(data: bytes) -> bool:
    """Cheap pre-check before running the chain walk."""
    return b"/ObjStm" in data or b"/XRef" in data
