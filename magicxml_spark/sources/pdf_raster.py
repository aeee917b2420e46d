"""Pure-stdlib rasterizer for pdf_lite-authored PDFs.

Fifth member of the lite-codec family: the reference renders PDF pages
to images through PyMuPDF/pdf2image (main.py:1244-1381), neither of
which exists in this environment. For the documents OUR writers emit
(pdf_lite.write_table_pdf text reports and write_image_pdf image
pages) the full content model is known — BT/Tm/TL/Tj/' text blocks in
10pt Helvetica and one FlateDecode /DeviceRGB XObject under a plain
``cm /Im0 Do`` — so page rasterization is implementable on ``zlib`` +
``re`` + an embedded 5x7 bitmap font, producing real viewable PNGs at
any dpi.

Contract mirrors the other lite codecs: ``rasterize_pdf`` returns a
page list ONLY for documents carrying the pdf_lite Producer marker
(rendering a foreign PDF's embedded fonts faithfully is exactly where
fitz takes over); anything else returns None and the caller keeps its
library gate.

Glyphs: classic 5x7 dot-matrix patterns (the HD44780-style public
repertoire) for printable ASCII; lowercase letters reuse the uppercase
shapes (a 35-dot grid has no meaningful x-height), unknown characters
render as a hollow box. At 10pt the glyph cell is 0.6 em wide — the
same fixed advance the pdf_lite table layout assumes — so rendered
columns align exactly like the extracted text does.
"""

from __future__ import annotations

import re
import zlib

from magicxml_spark.sources.pdf_lite import PRODUCER, _unescape
from magicxml_spark.sources.png_lite import encode_png

# --- 5x7 bitmap font (rows top->bottom, bit 4 = leftmost column) -----------

_F = {
    " ": (0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00),
    "A": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "B": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "C": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "D": (0x1C, 0x12, 0x11, 0x11, 0x11, 0x12, 0x1C),
    "E": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "F": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "G": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "H": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "I": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "J": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "K": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "L": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "M": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "N": (0x11, 0x11, 0x19, 0x15, 0x13, 0x11, 0x11),
    "O": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "P": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "Q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "R": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "S": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "T": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "U": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "V": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "W": (0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A),
    "X": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "Y": (0x11, 0x11, 0x11, 0x0A, 0x04, 0x04, 0x04),
    "Z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
    ".": (0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C),
    ",": (0x00, 0x00, 0x00, 0x00, 0x0C, 0x04, 0x08),
    ":": (0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x0C, 0x00),
    ";": (0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x04, 0x08),
    "!": (0x04, 0x04, 0x04, 0x04, 0x04, 0x00, 0x04),
    "?": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x00, 0x04),
    "'": (0x06, 0x04, 0x08, 0x00, 0x00, 0x00, 0x00),
    '"': (0x0A, 0x0A, 0x0A, 0x00, 0x00, 0x00, 0x00),
    "(": (0x02, 0x04, 0x08, 0x08, 0x08, 0x04, 0x02),
    ")": (0x08, 0x04, 0x02, 0x02, 0x02, 0x04, 0x08),
    "[": (0x0E, 0x08, 0x08, 0x08, 0x08, 0x08, 0x0E),
    "]": (0x0E, 0x02, 0x02, 0x02, 0x02, 0x02, 0x0E),
    "/": (0x01, 0x01, 0x02, 0x04, 0x08, 0x10, 0x10),
    "\\": (0x10, 0x10, 0x08, 0x04, 0x02, 0x01, 0x01),
    "-": (0x00, 0x00, 0x00, 0x1F, 0x00, 0x00, 0x00),
    "_": (0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x1F),
    "+": (0x00, 0x04, 0x04, 0x1F, 0x04, 0x04, 0x00),
    "=": (0x00, 0x00, 0x1F, 0x00, 0x1F, 0x00, 0x00),
    "*": (0x00, 0x0A, 0x04, 0x1F, 0x04, 0x0A, 0x00),
    "#": (0x0A, 0x0A, 0x1F, 0x0A, 0x1F, 0x0A, 0x0A),
    "%": (0x19, 0x19, 0x02, 0x04, 0x08, 0x13, 0x13),
    "&": (0x0C, 0x12, 0x14, 0x08, 0x15, 0x12, 0x0D),
    "@": (0x0E, 0x11, 0x01, 0x0D, 0x15, 0x15, 0x0E),
    "<": (0x02, 0x04, 0x08, 0x10, 0x08, 0x04, 0x02),
    ">": (0x08, 0x04, 0x02, 0x01, 0x02, 0x04, 0x08),
    "|": (0x04, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "{": (0x06, 0x04, 0x04, 0x08, 0x04, 0x04, 0x06),
    "}": (0x0C, 0x04, 0x04, 0x02, 0x04, 0x04, 0x0C),
    "^": (0x04, 0x0A, 0x11, 0x00, 0x00, 0x00, 0x00),
    "~": (0x00, 0x00, 0x08, 0x15, 0x02, 0x00, 0x00),
    "$": (0x04, 0x0F, 0x14, 0x0E, 0x05, 0x1E, 0x04),
    "`": (0x08, 0x04, 0x02, 0x00, 0x00, 0x00, 0x00),
}
_BOX = (0x1F, 0x11, 0x11, 0x11, 0x11, 0x11, 0x1F)  # unknown-char glyph


def _glyph(ch: str):
    g = _F.get(ch)
    if g is None:
        g = _F.get(ch.upper(), _BOX)
    return g


# --- document structure ----------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+) 0 obj\s*(.*?)\s*endobj", re.DOTALL)
_STREAM_SPLIT_RE = re.compile(rb"^(.*?)\s*stream\r?\n(.*)\r?\nendstream$", re.DOTALL)
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.]+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)\s*\]"
)
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")


def _objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """num -> (dict/body bytes, stream bytes or None).

    Two passes: the regex scan covers classically-serialized files
    (pdf_lite output and pre-1.5 writers), then the pdf_xref chain walk
    overlays anything a compressed cross-reference knows — objects
    packed into /Type /ObjStm streams (invisible to the regex) AND
    xref-addressed top-level objects (whose spec-/Length slicing beats
    the regex's ``endobj`` guess when binary stream data contains that
    byte sequence)."""
    out: dict[int, tuple[bytes, bytes | None]] = {}
    for m in _OBJ_RE.finditer(data):
        body = m.group(2)
        sm = _STREAM_SPLIT_RE.match(body)
        if sm:
            out[int(m.group(1))] = (sm.group(1), sm.group(2))
        else:
            out[int(m.group(1))] = (body, None)
    from magicxml_spark.sources.pdf_xref import compressed_objects

    # overlay whenever ANY xref chain parses (classic included, not
    # just compressed): spec-/Length slicing beats the regex's endobj
    # guess exactly where it matters — binary image streams (JPEG data
    # legitimately contains arbitrary byte sequences)
    if b"startxref" in data:
        out.update(compressed_objects(data))
    return out


# --- content-stream interpreter (the pdf_lite op subset) -------------------

_TOK_RE = re.compile(
    rb"(?P<tm>([\d.+-]+\s+){6})Tm"
    rb"|(?P<tl>[\d.+-]+)\s+TL"
    rb"|/F\d+\s+(?P<tf>[\d.+-]+)\s+Tf"
    rb"|(?P<td>[\d.+-]+\s+[\d.+-]+)\s+Td"
    rb"|\((?P<show>(?:\\.|[^\\()])*)\)\s*(?P<showop>Tj|')"
    rb"|\[(?P<showarr>(?:\((?:\\.|[^\\()])*\)|[^\]])*)\]\s*TJ"
    rb"|(?P<tstar>T\*)"
    rb"|(?P<cm>([\d.+-]+\s+){6})cm"
    rb"|/(?P<do>\w+)\s+Do"
)
# TJ array items: string fragments interleaved with kern numbers
# (thousandths of a text-space unit, subtracted from the advance)
_TJ_ITEM_RE = re.compile(rb"\((?P<s>(?:\\.|[^\\()])*)\)|(?P<k>[\d.+-]+)")


class _Canvas:
    """RGB raster, white background, PDF points -> pixels at ``scale``
    px/pt with the y axis flipped (PDF origin is bottom-left)."""

    def __init__(self, w_pt: float, h_pt: float, dpi: int):
        self.scale = dpi / 72.0
        self.h_pt = h_pt
        self.w = max(1, round(w_pt * self.scale))
        self.h = max(1, round(h_pt * self.scale))
        self.pix = bytearray(b"\xff" * (self.w * self.h * 3))

    def fill_rect(self, x0: float, y0: float, x1: float, y1: float) -> None:
        """Black rectangle given in PDF points (y up)."""
        px0 = max(0, round(x0 * self.scale))
        px1 = min(self.w, round(x1 * self.scale))
        py0 = max(0, round((self.h_pt - y1) * self.scale))
        py1 = min(self.h, round((self.h_pt - y0) * self.scale))
        if px1 <= px0:
            px1 = min(self.w, px0 + 1)  # sub-pixel dots stay visible
        if py1 <= py0:
            py1 = min(self.h, py0 + 1)
        for py in range(py0, py1):
            row = (py * self.w + px0) * 3
            self.pix[row : row + (px1 - px0) * 3] = b"\x00" * ((px1 - px0) * 3)

    def draw_text(self, x_pt: float, y_pt: float, size_pt: float, s: str) -> None:
        """String at baseline (x, y); fixed 0.6 em advance, 5x7 glyphs
        on a size/10 unit grid (cap height 0.7 em)."""
        u = size_pt / 10.0
        for ch in s:
            rows = _glyph(ch)
            if ch != " ":
                for gy, bits in enumerate(rows):
                    if not bits:
                        continue
                    top = y_pt + (7 - gy) * u
                    gx = 0
                    while gx < 5:
                        if bits & (0x10 >> gx):
                            run = gx
                            while run < 5 and bits & (0x10 >> run):
                                run += 1
                            self.fill_rect(
                                x_pt + gx * u, top - u, x_pt + run * u, top
                            )
                            gx = run
                        else:
                            gx += 1
            x_pt += size_pt * 0.6

    def draw_image(
        self,
        rgb: bytes,
        iw: int,
        ih: int,
        x_pt: float,
        y_pt: float,
        w_pt: float,
        h_pt: float,
    ) -> None:
        """Nearest-neighbor blit of a raw RGB buffer into the rect
        (x, y, w, h) in PDF points — the image XObject draw. PDF image
        space has row 0 at the TOP of the target rect."""
        px0 = max(0, round(x_pt * self.scale))
        py_top = max(0, round((self.h_pt - y_pt - h_pt) * self.scale))
        tw = max(1, round(w_pt * self.scale))
        th = max(1, round(h_pt * self.scale))
        for ty in range(th):
            py = py_top + ty
            if py < 0 or py >= self.h:
                continue
            sy = min(ty * ih // th, ih - 1)
            src_row = sy * iw * 3
            dst = (py * self.w + px0) * 3
            for tx in range(tw):
                px = px0 + tx
                if px >= self.w:
                    break
                sx = min(tx * iw // tw, iw - 1)
                self.pix[dst + tx * 3 : dst + tx * 3 + 3] = rgb[
                    src_row + sx * 3 : src_row + sx * 3 + 3
                ]


# Image-XObject decode (S10/K10 gate narrowing, round 6): the filters
# below cover what mainstream writers actually embed — DCTDecode (JPEG,
# baseline AND progressive via jpeg_lite), FlateDecode raw samples with
# PNG/TIFF predictors (via pdf_xref's shared predictor path) in
# DeviceRGB/DeviceGray/Indexed color at 1/2/4/8 bits per component, and
# 1-bit stencil masks. Still gated (returns None -> caller's fitz
# path): JPXDecode (JPEG 2000), CCITTFaxDecode, JBIG2Decode, filter
# cascades, ICC/Separation/Lab color, 16-bit samples.

_INDEXED_RE = re.compile(
    rb"\[\s*/(?:Indexed|I)\s*"
    rb"(?:/(?P<base>\w+)|(?P<bref>\d+)\s+0\s+R)\s+"
    rb"(?P<hival>\d+)\s*"
    rb"(?:(?P<hex><)|(?P<lit>\()|(?P<lref>\d+)\s+0\s+R)"
)


def _literal_bytes(data: bytes, start: int) -> bytes | None:
    """Raw bytes of the ``(...)`` literal string starting at ``start``
    (the open paren), escapes resolved at the BYTE level — palettes are
    binary, not text."""
    if start >= len(data) or data[start] != 0x28:
        return None
    out, i, depth = bytearray(), start + 1, 1
    while i < len(data) and depth:
        c = data[i]
        if c == 0x5C and i + 1 < len(data):
            nxt = data[i + 1]
            if 0x30 <= nxt <= 0x37:  # octal escape, up to 3 digits
                j = i + 1
                oct_s = bytearray()
                while j < len(data) and len(oct_s) < 3 and 0x30 <= data[j] <= 0x37:
                    oct_s.append(data[j])
                    j += 1
                out.append(int(oct_s.decode(), 8) & 0xFF)
                i = j
                continue
            out.append({0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}.get(nxt, nxt))
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if not depth:
                break
        out.append(c)
        i += 1
    return bytes(out) if not depth or i < len(data) else None


def _resolve_colorspace(dict_bytes: bytes, objs: dict | None, _depth: int = 0):
    """-> 'rgb' | 'gray' | ('indexed', n_base_comps, palette_bytes) |
    None (unsupported). Follows one level of indirection for both the
    /ColorSpace value and an Indexed palette stream; a cyclic or deeply
    chained indirect reference (obj N whose body is another ref) returns
    None instead of recursing unboundedly (return-None-on-corrupt
    contract)."""
    if _depth > 2:
        return None
    m = re.search(
        rb"/ColorSpace\s*(?:/(?P<name>\w+)|(?P<ref>\d+)\s+0\s+R|(?P<arr>\[))",
        dict_bytes,
    )
    if m is None:
        return None
    if m.group("ref") is not None:
        if objs is None:
            return None
        target = objs.get(int(m.group("ref")))
        if target is None:
            return None
        # the referenced body IS the colorspace value
        return _resolve_colorspace(b"/ColorSpace " + target[0], objs, _depth + 1)
    if m.group("name") is not None:
        name = m.group("name")
        if name in (b"DeviceRGB", b"CalRGB"):
            return "rgb"
        if name in (b"DeviceGray", b"CalGray"):
            return "gray"
        return None
    im = _INDEXED_RE.search(dict_bytes, m.start("arr"))
    if im is None:
        return None
    base = im.group("base")
    if base in (b"DeviceRGB", b"CalRGB"):
        ncomp = 3
    elif base in (b"DeviceGray", b"CalGray"):
        ncomp = 1
    else:
        return None
    if im.group("hex") is not None:
        end = dict_bytes.find(b">", im.end())
        if end < 0:
            return None
        hexs = re.sub(rb"\s", b"", dict_bytes[im.end() : end])
        if len(hexs) % 2:
            hexs += b"0"
        palette = bytes.fromhex(hexs.decode("ascii"))
    elif im.group("lit") is not None:
        palette = _literal_bytes(dict_bytes, im.end() - 1)
        if palette is None:
            return None
    else:
        if objs is None:
            return None
        target = objs.get(int(im.group("lref")))
        if target is None:
            return None
        pd, ps = target
        if ps is not None:
            from magicxml_spark.sources.pdf_xref import _decode_stream

            palette = _decode_stream(pd, ps)
            if palette is None:
                return None
        else:
            # a string object: hex or literal body
            body = pd.strip()
            if body.startswith(b"<"):
                hexs = re.sub(rb"\s", b"", body[1 : body.find(b">")])
                palette = bytes.fromhex(hexs.decode("ascii"))
            else:
                palette = _literal_bytes(body, 0)
                if palette is None:
                    return None
    return ("indexed", ncomp, palette)


def _unpack_bits(samples: bytes, w: int, h: int, bpc: int) -> list[int] | None:
    """Row-padded sub-byte samples -> per-pixel component values
    (single channel). PDF pads each ROW to a byte boundary (spec
    §8.9.3), exactly like PNG."""
    stride = (w * bpc + 7) // 8
    if len(samples) < stride * h:
        return None
    out: list[int] = []
    mask = (1 << bpc) - 1
    for y in range(h):
        row = samples[y * stride : (y + 1) * stride]
        for x in range(w):
            bit = x * bpc
            byte = row[bit >> 3]
            shift = 8 - bpc - (bit & 7)
            out.append((byte >> shift) & mask)
    return out


def _decode_xobject(dict_bytes: bytes, stream: bytes, objs: dict | None = None):
    """(rgb, w, h) — decode an image XObject to raw 24-bit RGB.

    Reference parity: fitz renders any embedded image (main.py:
    1244-1381); this covers the mainstream subset — DCTDecode through
    jpeg_lite (baseline + progressive), FlateDecode/unfiltered samples
    (PNG/TIFF predictors honored) in DeviceRGB-8, DeviceGray-8/4/2/1,
    Indexed-1/2/4/8 over RGB or Gray palettes, 1-bit /ImageMask
    stencils, and a /Decode [1 0] inversion for bilevel. None for any
    other flavor — the caller keeps its fitz-gated path."""
    if re.search(rb"/Subtype\s*/(?!Image)\w", dict_bytes):
        return None
    wm = re.search(rb"/Width\s+(\d+)", dict_bytes)
    hm = re.search(rb"/Height\s+(\d+)", dict_bytes)
    if not (wm and hm):
        return None
    w, h = int(wm.group(1)), int(hm.group(1))
    if w <= 0 or h <= 0:
        return None

    fm = re.search(rb"/Filter\s*/(\w+)", dict_bytes)
    filt = fm.group(1) if fm else None
    if filt in (b"DCTDecode", b"DCT"):
        from magicxml_spark.sources.jpeg_lite import decode_jpeg

        try:
            jw, jh, mode, pixels = decode_jpeg(stream)
        except ValueError:
            return None
        if mode == "L":
            pixels = bytes(b for v in pixels for b in (v, v, v))
        elif mode != "RGB":
            return None
        return pixels, jw, jh

    from magicxml_spark.sources.pdf_xref import _decode_stream

    samples = _decode_stream(dict_bytes, stream)
    if samples is None:
        return None

    bpc_m = re.search(rb"/BitsPerComponent\s+(\d+)", dict_bytes)
    bpc = int(bpc_m.group(1)) if bpc_m else 8
    inverted = re.search(rb"/Decode\s*\[\s*1(?:\.0*)?\s+0(?:\.0*)?\s*\]", dict_bytes) is not None

    if re.search(rb"/ImageMask\s+true", dict_bytes):
        # stencil: sample 0 paints (black), 1 leaves background (white)
        # — same bit->luma mapping as bilevel DeviceGray
        vals = _unpack_bits(samples, w, h, 1)
        if vals is None:
            return None
        lo, hi = (255, 0) if inverted else (0, 255)
        return bytes(b for v in vals for b in ((lo,) * 3 if v == 0 else (hi,) * 3)), w, h

    cs = _resolve_colorspace(dict_bytes, objs)
    if cs == "rgb":
        if bpc != 8 or len(samples) < w * h * 3:
            return None
        return samples[: w * h * 3], w, h
    if cs == "gray":
        if bpc == 8:
            if len(samples) < w * h:
                return None
            vals = list(samples[: w * h])
        elif bpc in (1, 2, 4):
            raw = _unpack_bits(samples, w, h, bpc)
            if raw is None:
                return None
            maxv = (1 << bpc) - 1
            vals = [v * 255 // maxv for v in raw]
        else:
            return None
        if inverted:
            vals = [255 - v for v in vals]
        return bytes(b for v in vals for b in (v, v, v)), w, h
    if isinstance(cs, tuple):
        _, ncomp, palette = cs
        if bpc == 8:
            if len(samples) < w * h:
                return None
            idx = list(samples[: w * h])
        elif bpc in (1, 2, 4):
            idx = _unpack_bits(samples, w, h, bpc)
            if idx is None:
                return None
        else:
            return None
        n_entries = len(palette) // ncomp
        if n_entries == 0:
            return None
        out = bytearray(w * h * 3)
        for i, v in enumerate(idx):
            v = min(v, n_entries - 1)
            if ncomp == 3:
                out[i * 3 : i * 3 + 3] = palette[v * 3 : v * 3 + 3]
            else:
                g = palette[v]
                out[i * 3 : i * 3 + 3] = bytes((g, g, g))
        return bytes(out), w, h
    return None


def _render_stream(canvas: _Canvas, content: bytes, xobjects: dict) -> None:
    size = 10.0
    lead = 14.0
    x = y = 0.0
    line_x = 0.0  # text-line start (T* returns here)
    ctm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    for m in _TOK_RE.finditer(content):
        if m.group("tm") is not None:
            a, b, c, d, e, f = (float(v) for v in m.group("tm").split())
            x = line_x = e
            y = f
        elif m.group("tl") is not None:
            lead = float(m.group("tl"))
        elif m.group("tf") is not None:
            size = float(m.group("tf"))
        elif m.group("td") is not None:
            dx, dy = (float(v) for v in m.group("td").split())
            line_x += dx
            x = line_x
            y += dy
        elif m.group("tstar") is not None:
            y -= lead
            x = line_x
        elif m.group("show") is not None:
            if m.group("showop") == b"'":
                y -= lead
                x = line_x
            s = _unescape(m.group("show"))
            canvas.draw_text(x, y, size, s)
            x += len(s) * size * 0.6
        elif m.group("showarr") is not None:
            # TJ: fragments advance like Tj; kern numbers shift the pen
            # by -k/1000 of the font size (foreign generators kern
            # proportional text this way)
            for tm_ in _TJ_ITEM_RE.finditer(m.group("showarr")):
                if tm_.group("s") is not None:
                    s = _unescape(tm_.group("s"))
                    canvas.draw_text(x, y, size, s)
                    x += len(s) * size * 0.6
                else:
                    x -= float(tm_.group("k")) / 1000.0 * size
        elif m.group("cm") is not None:
            a, b, c, d, e, f = (float(v) for v in m.group("cm").split())
            ctm = (a, b, c, d, e, f)
        elif m.group("do") is not None:
            img = xobjects.get(m.group("do").decode())
            if img is not None:
                rgb, iw, ih = img
                a, _, _, d, e, f = ctm
                canvas.draw_image(rgb, iw, ih, e, f, a, d)


def _page_xobjects(body: bytes, objs: dict) -> dict[str, tuple]:
    """name -> decoded (rgb, w, h) for every image XObject reachable
    from a page: /Resources inline in the page dict OR behind an
    ``N 0 R`` indirection (foreign writers), with ALL ``/Name N 0 R``
    entries of the /XObject dict enumerated (the legacy regex only saw
    the first)."""
    from magicxml_spark.sources.pdf_xref import _balanced_dict

    scopes = [body]
    rm = re.search(rb"/Resources\s+(\d+)\s+0\s+R", body)
    if rm:
        target = objs.get(int(rm.group(1)))
        if target is not None:
            scopes.append(target[0])
    out: dict[str, tuple] = {}
    for scope in scopes:
        xm = re.search(rb"/XObject\s*(?:<<|(\d+)\s+0\s+R)", scope)
        if xm is None:
            continue
        if xm.group(1) is not None:
            target = objs.get(int(xm.group(1)))
            if target is None:
                continue
            xdict = target[0]
        else:
            span = _balanced_dict(scope, xm.end() - 2)
            if span is None:
                continue
            xdict = scope[span[0] : span[1]]
        for em in re.finditer(rb"/(\w+)\s+(\d+)\s+0\s+R", xdict):
            name, ref = em.group(1).decode(), int(em.group(2))
            if name in out:
                continue
            xd, xs = objs.get(ref, (b"", None))
            if xs is not None:
                dec = _decode_xobject(xd, xs, objs)
                if dec is not None:
                    out[name] = dec
    return out


def _page_content(body: bytes, objs: dict) -> bytes | None:
    """Concatenated decoded content stream(s) of one page body (single
    ref or array form); None when absent/undecodable."""
    refs: list[int] = []
    am = _CONTENTS_ARR_RE.search(body)
    if am:
        refs = [int(r.group(1)) for r in _REF_RE.finditer(am.group(1))]
    else:
        cm_ = _CONTENTS_RE.search(body)
        if cm_:
            refs = [int(cm_.group(1))]
    parts = []
    for cnum in refs:
        cdict, cstream = objs.get(cnum, (b"", None))
        if cstream is None:
            continue
        content = cstream
        if b"/FlateDecode" in cdict:
            try:
                content = zlib.decompress(cstream)
            except zlib.error:
                return None
        parts.append(content)
    return b"\n".join(parts) if parts else None


def _rasterize(
    data: bytes, dpi: int, require_content: bool = False
) -> list[tuple[int, int, bytes]] | None:
    """Shared page loop: parse objects, enumerate leaf pages, interpret
    each content stream onto a canvas. Returns None when no page object
    parses at all (encrypted or exotically-filtered documents — since
    pdf_xref landed, compressed-xref/ObjStm files DO parse).

    ``require_content=True`` (the foreign-text arm) additionally bails
    to None when NO page carries text or an actually-drawn XObject —
    "nothing we can render" should fall through to the fitz gate there.
    The pdf_lite-authored arm passes False: a producer-marked document
    with blank pages renders blank pages, as it always did."""
    objs = _objects(data)
    pages = []
    for num in sorted(objs):
        body, _ = objs[num]
        if b"/Type /Page" in body and b"/Kids" not in body:
            pages.append((num, body))
    if not pages:
        return None
    out = []
    any_text = False
    for _, body in pages:
        mb = _MEDIABOX_RE.search(body)
        if mb:
            w_pt = float(mb.group(3)) - float(mb.group(1))
            h_pt = float(mb.group(4)) - float(mb.group(2))
        else:
            w_pt, h_pt = 595.0, 842.0
        canvas = _Canvas(w_pt, h_pt, dpi)
        content = _page_content(body, objs)
        if content is not None:
            if b"BT" in content:
                any_text = True
            xobjects = _page_xobjects(body, objs)
            # an XObject only counts as content when the stream actually
            # DRAWS it (a `/Name Do`), not merely because it decoded
            for dm in re.finditer(rb"/(\w+)\s+Do", content):
                if dm.group(1).decode() in xobjects:
                    any_text = True
                    break
            _render_stream(canvas, content, xobjects)
        out.append((canvas.w, canvas.h, encode_png(canvas.w, canvas.h, "RGB", bytes(canvas.pix))))
    if require_content and not any_text:
        return None
    return out


def rasterize_pdf(data: bytes, dpi: int = 72) -> list[tuple[int, int, bytes]] | None:
    """Render a pdf_lite-authored document: one (width_px, height_px,
    png_bytes) per page at ``dpi``. Returns None for foreign PDFs (no
    pdf_lite Producer marker) or unparseable structure — the caller
    falls back to ``rasterize_text_pdf`` then its fitz gate,
    mirroring every other lite codec's bail-out contract."""
    if not data.startswith(b"%PDF") or PRODUCER.encode() not in data:
        return None
    return _rasterize(data, dpi)


def rasterize_text_pdf(data: bytes, dpi: int = 72) -> list[tuple[int, int, bytes]] | None:
    """Render a FOREIGN text PDF through the same interpreter and 5x7
    font (VERDICT r4 #5): pdf_lite.extract_text_pages already proves
    foreign text layers are readable; this draws them with real page
    geometry — Tm/Td/TL/T*/Tj/'/TJ (kerned arrays) all honored, plus
    any FlateDecode /DeviceRGB XObjects the document embeds.

    Honest approximation contract: glyph SHAPES are the dot-matrix
    substitute (the reference's fitz renders embedded font programs —
    the one thing a regex interpreter cannot), and the fixed 0.6 em
    advance misestimates proportional-font line widths, so columns from
    kern-positioned generators drift within a line. Layout (page count,
    page size at dpi, line positions, reading order) is faithful.

    Image-only documents render too (round 6): DCTDecode pages decode
    through jpeg_lite (baseline + progressive), FlateDecode samples in
    DeviceRGB/DeviceGray/Indexed color at 1-8 bpc with PNG/TIFF
    predictors, and 1-bit stencil masks — the mainstream scan/export
    subset. Returns None — caller keeps the fitz gate — when the bytes
    are not a PDF, carry the pdf_lite marker (use ``rasterize_pdf``),
    or no page yields text or a DECODABLE drawn image (JPX/CCITT/JBIG2
    scans, filter cascades, ICC color). Compressed-xref / object-stream
    files are fine: pdf_xref recovers their page dictionaries before
    this interpreter runs."""
    if not data.startswith(b"%PDF") or PRODUCER.encode() in data:
        return None
    return _rasterize(data, dpi, require_content=True)


# --- Ruled-table extraction (the pdfplumber-lattice analog) -----------------

_RE_OP_RE = re.compile(rb"(?P<re>([\d.+-]+\s+){4})re")
_MV_RE = re.compile(
    rb"(?P<mx>[\d.+-]+)\s+(?P<my>[\d.+-]+)\s+m|(?P<lx>[\d.+-]+)\s+(?P<ly>[\d.+-]+)\s+l"
)


def _positioned_text(content: bytes) -> list[tuple[float, float, float, str]]:
    """(x, y, size, text) runs from one content stream — the same
    interpreter walk as rendering, collecting instead of drawing."""
    size, lead = 10.0, 14.0
    x = y = line_x = 0.0
    out: list[tuple[float, float, float, str]] = []
    for m in _TOK_RE.finditer(content):
        if m.group("tm") is not None:
            vals = [float(v) for v in m.group("tm").split()]
            x = line_x = vals[4]
            y = vals[5]
        elif m.group("tl") is not None:
            lead = float(m.group("tl"))
        elif m.group("tf") is not None:
            size = float(m.group("tf"))
        elif m.group("td") is not None:
            dx, dy = (float(v) for v in m.group("td").split())
            line_x += dx
            x = line_x
            y += dy
        elif m.group("tstar") is not None:
            y -= lead
            x = line_x
        elif m.group("show") is not None:
            if m.group("showop") == b"'":
                y -= lead
                x = line_x
            s = _unescape(m.group("show"))
            if s.strip():
                out.append((x, y, size, s))
            x += len(s) * size * 0.6
        elif m.group("showarr") is not None:
            for tm_ in _TJ_ITEM_RE.finditer(m.group("showarr")):
                if tm_.group("s") is not None:
                    s = _unescape(tm_.group("s"))
                    if s.strip():
                        out.append((x, y, size, s))
                    x += len(s) * size * 0.6
                else:
                    x -= float(tm_.group("k")) / 1000.0 * size
    return out


def _ruling_lines(content: bytes) -> tuple[list[tuple], list[tuple]]:
    """(horizontal, vertical) ruling segments from rect and path ops:
    every ``re`` contributes its four edges (thin rects ARE lines —
    clustering merges the near-coincident pair); ``m``/``l`` chains
    contribute axis-aligned segments. Returns
    hlines=[(y, x0, x1)], vlines=[(x, y0, y1)]."""
    h: list[tuple] = []
    v: list[tuple] = []
    for m in _RE_OP_RE.finditer(content):
        x0, y0, w, hgt = (float(t) for t in m.group("re").split())
        x1, y1 = x0 + w, y0 + hgt
        h += [(y0, x0, x1), (y1, x0, x1)]
        v += [(x0, y0, y1), (x1, y0, y1)]
    cur = None
    for m in _MV_RE.finditer(content):
        if m.group("mx") is not None:
            cur = (float(m.group("mx")), float(m.group("my")))
        elif cur is not None:
            nxt = (float(m.group("lx")), float(m.group("ly")))
            if abs(nxt[1] - cur[1]) <= 0.5:
                h.append((cur[1], min(cur[0], nxt[0]), max(cur[0], nxt[0])))
            elif abs(nxt[0] - cur[0]) <= 0.5:
                v.append((cur[0], min(cur[1], nxt[1]), max(cur[1], nxt[1])))
            cur = nxt
    return h, v


def _cluster(vals: list[float]) -> list[float]:
    out: list[float] = []
    for val in sorted(vals):
        if out and val - out[-1] <= 2.0:
            continue
        out.append(val)
    return out


def extract_table_rows_ruled(data: bytes) -> list[tuple[int, int, int, list[str]]]:
    """(page_no, table_no, row_no, cells) for FOREIGN text PDFs whose
    tables are drawn with RULING LINES (the pdfplumber 'lattice' case,
    reference main.py:920-931): cell boundaries come from stroked/
    filled line geometry, text runs land in cells by their Tm/Td
    positions. Complements extract_table_rows_heuristic, which handles
    the whitespace-aligned (unruled) case. Returns [] when no page has
    a >=2x2 line grid — the caller falls to its next arm."""
    from magicxml_spark.sources.pdf_lite import PRODUCER

    if not data.startswith(b"%PDF") or PRODUCER.encode() in data:
        return []
    objs = _objects(data)
    pages = [
        body
        for num in sorted(objs)
        for body, _ in [objs[num]]
        if b"/Type /Page" in body and b"/Kids" not in body
    ]
    out: list[tuple[int, int, int, list[str]]] = []
    for pageno, body in enumerate(pages, 1):
        content = _page_content(body, objs)
        if content is None:
            continue
        hsegs, vsegs = _ruling_lines(content)
        ys = _cluster([s[0] for s in hsegs])
        xs = _cluster([s[0] for s in vsegs])
        if len(ys) < 2 or len(xs) < 2:
            continue
        ys = sorted(ys, reverse=True)  # top row first (PDF y grows up)
        runs = _positioned_text(content)
        n_rows, n_cols = len(ys) - 1, len(xs) - 1
        grid: list[list[list[tuple[float, str]]]] = [
            [[] for _ in range(n_cols)] for _ in range(n_rows)
        ]
        for x, y, size, s in runs:
            # the baseline sits above the cell bottom; sample mid-glyph
            ymid = y + size * 0.35
            ri = next(
                (i for i in range(n_rows) if ys[i] >= ymid >= ys[i + 1]), None
            )
            cj = next(
                (j for j in range(n_cols) if xs[j] <= x < xs[j + 1]), None
            )
            if ri is not None and cj is not None:
                grid[ri][cj].append((x, s))
        filled = [
            [" ".join(s for _, s in sorted(cell)).strip() for cell in row]
            for row in grid
        ]
        filled = [row for row in filled if any(row)]
        if len(filled) >= 2:
            for rno, row in enumerate(filled):
                out.append((pageno, 1, rno, row))
    return out
