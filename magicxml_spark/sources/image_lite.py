"""Pure-stdlib BMP + GIF decoders and a format dispatcher.

Extends the lite-codec family to the two remaining headerless-simple
raster formats, so the image operators (S11 metadata, K10 resize /
to-pdf / to-jpg; reference main.py:886-911, 1173-1241) accept real
.bmp and .gif inputs without Pillow, not just .png.

* BMP (Windows DIB): BITMAPINFOHEADER and the V4/V5 extensions with
  BI_RGB compression — 24/32-bit truecolor and 8-bit palette rows,
  bottom-up or top-down, 4-byte row padding. The format is a plain
  pixel dump; no entropy coding at all.
* GIF (87a/89a): global/local palettes, the GIF flavor of LZW with
  growing code widths and clear/EOI codes, Adam-less 4-pass interlace,
  and the 89a graphic-control transparency index (transparent frames
  decode to RGBA). First frame only — the operators consume still
  images; animation frames beyond the first are out of scope the same
  way Adam7 is for png_lite.

Decoded shape matches png_lite: ``(width, height, mode, pixels)`` with
mode 'RGB'/'RGBA' and a flat row-major buffer, so every downstream
kernel (flatten_to_rgb, encode_jpeg, the PDF XObject
embed) works unchanged. ``decode_image`` sniffs magic bytes and
dispatches PNG/BMP/GIF/JPEG (JPEG via jpeg_lite's baseline-subset
decoder), returning ``(format, width, height, mode, pixels)`` or None
— the shared bail-out contract that keeps foreign/exotic files on the
gated PIL path.
"""

from __future__ import annotations

import struct


# --- BMP -------------------------------------------------------------------


def decode_bmp(data: bytes):
    """-> (w, h, 'RGB', pixels) or None (wrong magic, compressed,
    or an out-of-subset bit depth)."""
    try:
        return _decode_bmp_inner(data)
    except (struct.error, IndexError, ValueError, MemoryError, OverflowError):
        return None


def _decode_bmp_inner(data: bytes):
    if data[:2] != b"BM" or len(data) < 54:
        return None
    offbits = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:  # BITMAPCOREHEADER etc.
        return None
    w, h_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    clr_used = struct.unpack_from("<I", data, 46)[0]
    if planes != 1 or compression != 0 or bpp not in (8, 24, 32):
        return None
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        return None
    palette = b""
    if bpp == 8:
        n_colors = clr_used or 256
        pal_at = 14 + hdr_size
        palette = data[pal_at : pal_at + 4 * n_colors]
        if len(palette) < 4 * n_colors:
            return None
    stride = ((bpp * w + 31) // 32) * 4
    if len(data) < offbits + stride * h:
        return None
    out = bytearray(w * h * 3)
    for row in range(h):
        src_y = row if top_down else h - 1 - row
        src = offbits + src_y * stride
        dst = row * w * 3
        if bpp == 24:
            for x in range(w):
                b, g, r = data[src + 3 * x : src + 3 * x + 3]
                out[dst + 3 * x : dst + 3 * x + 3] = bytes((r, g, b))
        elif bpp == 32:
            for x in range(w):
                b, g, r = data[src + 4 * x : src + 4 * x + 3]
                out[dst + 3 * x : dst + 3 * x + 3] = bytes((r, g, b))
        else:  # 8-bit palette (BGRA entries)
            for x in range(w):
                i = 4 * data[src + x]
                if i + 3 > len(palette):
                    return None
                out[dst + 3 * x : dst + 3 * x + 3] = bytes(
                    (palette[i + 2], palette[i + 1], palette[i])
                )
    return w, h, "RGB", bytes(out)


# --- GIF -------------------------------------------------------------------


def decode_gif(data: bytes):
    """First image frame -> (w, h, 'RGB'|'RGBA', pixels) or None."""
    try:
        return _decode_gif_inner(data)
    except (struct.error, IndexError, ValueError, MemoryError, OverflowError):
        return None


def _gif_lzw(min_code_size: int, stream: bytes, n_pixels: int) -> bytearray | None:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    acc = nbits = 0
    prev: bytes | None = None
    for byte in stream:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:  # deferred-clear: stop at 12 bits
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out += entry
            prev = entry
            if len(table) >= (1 << code_size) and code_size < 12:
                code_size += 1
            if len(out) >= n_pixels:
                return out
    return out


def _decode_gif_inner(data: bytes):
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    pos = 6
    _, _, flags, _, _ = struct.unpack_from("<HHBBB", data, pos)
    pos += 7
    global_pal = b""
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        global_pal = data[pos : pos + 3 * n]
        pos += 3 * n
    transparent = -1
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return None
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                size = data[pos]
                body = data[pos + 1 : pos + 1 + size]
                if size >= 4 and body[0] & 0x01:
                    transparent = body[3]
                pos += 1 + size
                if data[pos] != 0:
                    return None
                pos += 1
            else:  # skip sub-blocks
                while True:
                    size = data[pos]
                    pos += 1 + size
                    if size == 0:
                        break
            continue
        if block != 0x2C:  # not an image descriptor
            return None
        _, _, w, h, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        pal = global_pal
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = data[pos : pos + 3 * n]
            pos += 3 * n
        if not pal or w <= 0 or h <= 0 or w * h > 64_000_000:
            return None
        min_code_size = data[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            return None
        stream = bytearray()
        while True:
            size = data[pos]
            pos += 1
            if size == 0:
                break
            stream += data[pos : pos + size]
            pos += size
        idx = _gif_lzw(min_code_size, bytes(stream), w * h)
        if idx is None or len(idx) < w * h:
            return None
        if iflags & 0x40:  # 4-pass interlace -> sequential rows
            seq = bytearray(w * h)
            rows = (
                list(range(0, h, 8))
                + list(range(4, h, 8))
                + list(range(2, h, 4))
                + list(range(1, h, 2))
            )
            for src_row, dst_row in enumerate(rows):
                seq[dst_row * w : (dst_row + 1) * w] = idx[
                    src_row * w : (src_row + 1) * w
                ]
            idx = seq
        ch = 4 if transparent >= 0 else 3
        out = bytearray(w * h * ch)
        for i in range(w * h):
            p = idx[i]
            if 3 * p + 3 > len(pal):
                return None
            out[ch * i : ch * i + 3] = pal[3 * p : 3 * p + 3]
            if ch == 4:
                out[ch * i + 3] = 0 if p == transparent else 255
        return w, h, "RGBA" if ch == 4 else "RGB", bytes(out)
    return None


# --- dispatcher ------------------------------------------------------------


def sniff_format(data: bytes) -> str | None:
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "PNG"
    if data[:2] == b"BM":
        return "BMP"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "GIF"
    if data[:2] == b"\xff\xd8":
        return "JPEG"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "TIFF"
    return None


def decode_image(data: bytes):
    """-> (format, w, h, mode, pixels) or None. PNG goes through
    png_lite (all five filters), JPEG through jpeg_lite's baseline
    subset; anything unrecognized or out-of-subset returns None so the
    caller keeps its PIL-gated path."""
    fmt = sniff_format(data)
    if fmt == "PNG":
        from magicxml_spark.sources.png_lite import decode_png

        dec = decode_png(data)
        return None if dec is None else ("PNG", *dec)
    if fmt == "BMP":
        dec = decode_bmp(data)
        return None if dec is None else ("BMP", *dec)
    if fmt == "GIF":
        dec = decode_gif(data)
        return None if dec is None else ("GIF", *dec)
    if fmt == "JPEG":
        from magicxml_spark.sources.jpeg_lite import decode_jpeg

        try:
            return ("JPEG", *decode_jpeg(data))
        except Exception:
            return None
    if fmt == "TIFF":
        from magicxml_spark.sources.tiff_lite import decode_tiff

        dec = decode_tiff(data)
        return None if dec is None else ("TIFF", *dec)
    return None
