"""Minimal pure-stdlib PNG codec (RFC 2083 / ISO 15948 subset).

Third member of the lite-codec family (xlsx_lite, pdf_lite): PNG's
container is zlib + per-scanline filters, both fully implementable on
the standard library, so the image operators (S11 metadata, K10
resize / image->PDF) run for real without Pillow.

Subset: 8- and 16-bit samples (16-bit downsamples to 8 — the high
byte is the correctly truncated value), color types 0 (gray), 2
(RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced or
Adam7-interlaced. ``decode_png`` returns ``None`` for anything else
(1/2/4-bit depths) — callers keep their gated path for exotic files,
exactly like pdf_lite returns [] for image-only PDFs. All five
scanline filters (None/Sub/Up/Average/Paeth) are implemented per pass
at the correct byte distance, so files from real encoders decode
correctly.

Decoded form: (width, height, mode, pixels) with mode 'L'/'LA'/'RGB'/
'RGBA' (palette expands to RGB) and pixels one flat bytearray,
row-major, ``len = w*h*channels`` — the natural shape for the
nearest-neighbor resize and the PDF image XObject embed.
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_MODE = {0: "L", 2: "RGB", 4: "LA", 6: "RGBA"}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter(raw: bytes, off: int, w: int, h: int, bpb: int):
    """Reverse the five scanline filters over an h x (1 + w*bpb) block
    starting at ``off``; None on truncation or an unknown filter tag.
    ``bpb`` is BYTES per pixel (channels x bytes-per-sample) — the
    filters' "left" reference is bpb bytes back, which is what makes
    the same loop correct for 8- and 16-bit samples. One call decodes
    a whole non-interlaced image; Adam7 calls it once per pass (each
    pass filters against its OWN previous row)."""
    stride = w * bpb
    if len(raw) < off + h * (stride + 1):
        return None
    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        row_at = off + y * (stride + 1)
        f = raw[row_at]
        line = bytearray(raw[row_at + 1 : row_at + 1 + stride])
        if f == 1:  # Sub
            for i in range(bpb, stride):
                line[i] = (line[i] + line[i - bpb]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - bpb] if i >= bpb else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpb] if i >= bpb else 0
                ul = prev[i - bpb] if i >= bpb else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif f != 0:
            return None
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return out


def decode_png(data: bytes):
    """-> (width, height, mode, pixels) or None when not in-subset OR
    structurally corrupt — the None contract is what lets the Spark
    operators fall to their library gate instead of failing the task on
    one bad file in a binaryFile ingest."""
    try:
        return _decode_png_inner(data)
    except (struct.error, IndexError, ValueError, MemoryError, OverflowError):
        return None


def _decode_png_inner(data: bytes):
    if not data.startswith(_SIG):
        return None
    pos, ihdr, idat, plte = len(_SIG), None, [], b""
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + body + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        return None
    w, h, depth, ctype_i, comp, filt, interlace = ihdr
    if depth not in (8, 16) or comp != 0 or filt != 0 or interlace not in (0, 1):
        return None
    if ctype_i not in _CHANNELS or (depth == 16 and ctype_i == 3):
        return None  # 16-bit palette indices are illegal per spec
    ch = _CHANNELS[ctype_i]
    bps = depth // 8
    bpb = ch * bps  # filter distance: bytes per pixel
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    if interlace == 1:  # Adam7: 7 sequentially-filtered sub-images
        out = bytearray(h * w * bpb)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub = _unfilter(raw, pos2, pw, ph, bpb)
            if sub is None:
                return None
            pos2 += ph * (pw * bpb + 1)
            for sy in range(ph):
                for sx in range(pw):
                    src = (sy * pw + sx) * bpb
                    dst = ((y0 + sy * dy) * w + (x0 + sx * dx)) * bpb
                    out[dst : dst + bpb] = sub[src : src + bpb]
    else:
        out = _unfilter(raw, 0, w, h, bpb)
        if out is None:
            return None
    if bps == 2:
        # 16-bit samples are big-endian: the high byte at every even
        # offset IS the correctly rounded-down 8-bit value
        out = bytearray(out[0::2])
    if ctype_i == 3:  # palette -> RGB
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(out):
            if 3 * idx + 3 > len(plte):
                return None  # out-of-range palette index: corrupt file
            rgb[3 * i : 3 * i + 3] = plte[3 * idx : 3 * idx + 3]
        return w, h, "RGB", rgb
    return w, h, _MODE[ctype_i], out


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(w: int, h: int, mode: str, pixels: bytes) -> bytes:
    """Filter-0 encoder for mode 'L'/'LA'/'RGB'/'RGBA'."""
    ctype = {"L": 0, "RGB": 2, "LA": 4, "RGBA": 6}[mode]
    ch = len(mode)
    stride = w * ch
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw += pixels[y * stride : (y + 1) * stride]
    return (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def flatten_to_rgb(w: int, h: int, mode: str, pixels: bytes) -> bytes:
    """Composite alpha on white / expand gray — the same normalization
    the reference applies before JPEG/PDF output (main.py:893-897)."""
    n = w * h
    out = bytearray(n * 3)
    if mode == "RGB":
        return bytes(pixels)
    if mode == "L":
        for i in range(n):
            out[3 * i] = out[3 * i + 1] = out[3 * i + 2] = pixels[i]
    elif mode == "LA":
        for i in range(n):
            g, a = pixels[2 * i], pixels[2 * i + 1]
            v = (g * a + 255 * (255 - a)) // 255
            out[3 * i] = out[3 * i + 1] = out[3 * i + 2] = v
    elif mode == "RGBA":
        for i in range(n):
            r, g, b, a = pixels[4 * i : 4 * i + 4]
            inv = 255 - a
            out[3 * i] = (r * a + 255 * inv) // 255
            out[3 * i + 1] = (g * a + 255 * inv) // 255
            out[3 * i + 2] = (b * a + 255 * inv) // 255
    else:
        raise ValueError(f"unsupported mode {mode!r}")
    return bytes(out)
