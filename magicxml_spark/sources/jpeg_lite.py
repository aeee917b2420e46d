"""Minimal pure-Python baseline JPEG codec (ITU-T T.81 subset).

Fourth lite codec (xlsx_lite, pdf_lite, png_lite): the baseline DCT
JPEG process is fully specified in the public ITU-T T.81 standard —
the quantization and Huffman tables below are the spec's own Annex K
example tables, the quality scaling is the classic IJG percent
formula, and the entropy coding is canonical-Huffman over (run, size)
symbols. With numpy (baked into the image) the 8x8 DCT is two matrix
multiplies, so encoding is vectorized per block row rather than
per-pixel Python.

Encoder subset: 8-bit RGB or grayscale, 4:4:4, baseline sequential,
JFIF APP0. Decoder subset: any baseline sequential
stream (SOF0/SOF1) — file-defined tables, arbitrary integer
sampling factors with nearest chroma upsampling, restart markers —
plus PROGRESSIVE streams (SOF2, T.81 Annex G: spectral selection +
successive approximation, DC/AC first and refinement scans, EOB
runs, interleaved DC scans, per-scan table redefinition);
arithmetic/CMYK/12-bit/hierarchical raise, falling callers back to
their PIL-gated path. The in-repo round-trip (encode -> decode ->
PSNR) stays testable without Pillow.

``png_to_jpg`` (reference main.py:2078 — called but never defined
there) runs for real through this module when Pillow is absent.
"""

from __future__ import annotations

import struct

import numpy as np

# --- ITU-T T.81 Annex K.1/K.2 example quantization tables (zigzag order not
# applied here; these are in natural row-major order) -------------------------
_Q_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.float64)
_Q_CHROM = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.float64)

# --- Annex K.3 typical Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list) --------------------------------------------------------
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
     0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
     0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
     0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
     0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
     0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
     0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
     0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
     0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
     0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# DCT-II basis matrix: block_dct = C @ B @ C.T
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16)
_C *= 0.5
_C[0, :] *= 1 / np.sqrt(2)


def _scaled_tables(quality: int):
    quality = max(1, min(100, quality))
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_Q_LUM, _Q_CHROM):
        q = np.floor((base * scale + 50) / 100)
        out.append(np.clip(q, 1, 255))
    return out


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 canonical code assignment."""
    codes = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def align(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec

    def flush(self) -> bytes:
        self.align()
        return bytes(self.buf)


def _size_cat(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def _quantized_rows(blocks: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(n, 8, 8) float blocks -> (n, 64) zigzagged quantized coefs —
    ONE vectorized einsum/round/index over all blocks of a component
    (per-MCU single-block calls would pay numpy dispatch n times)."""
    coefs = np.einsum("ij,njk,lk->nil", _C, blocks, _C)
    quant = np.round(coefs / q).astype(np.int64)
    return quant.reshape(len(quant), 64)[:, _ZIGZAG]


def _entropy_block(
    writer: _BitWriter, zz: np.ndarray,
    dc_codes: dict, ac_codes: dict, dc_pred: int,
) -> int:
    """Huffman-encode one zigzagged row; returns the new DC predictor."""
    diff = int(zz[0]) - dc_pred
    dc_pred = int(zz[0])
    s = _size_cat(diff)
    code, length = dc_codes[s]
    writer.write(code, length)
    if s:
        writer.write(_amplitude(diff, s), s)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for i in range(1, last + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        s = _size_cat(v)
        code, length = ac_codes[(run << 4) | s]
        writer.write(code, length)
        writer.write(_amplitude(v, s), s)
        run = 0
    if last < 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc_pred


def _component_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float -> (n_blocks, 8, 8) in scan order, edge-replicated."""
    h, w = plane.shape
    bw, bh = (w + 7) // 8 * 8, (h + 7) // 8 * 8
    padded = np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")
    blocks = padded.reshape(bh // 8, 8, bw // 8, 8).swapaxes(1, 2)
    return blocks.reshape(-1, 8, 8)


def _dht(cls: int, dest: int, table) -> bytes:
    bits, values = table
    body = bytes([cls << 4 | dest]) + bytes(bits) + bytes(values)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    w: int,
    h: int,
    mode: str,
    pixels: bytes,
    quality: int = 95,
) -> bytes:
    """Baseline JFIF encode of 'RGB' or 'L' pixels (row-major), every
    component at full resolution (4:4:4)."""
    q_lum, q_chrom = _scaled_tables(quality)
    gray = mode == "L"
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).astype(np.float64)
    if gray:
        planes = [arr.reshape(h, w) - 128.0]
    else:
        rgb = arr.reshape(h, w, 3)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]

    dc_l = _canonical_codes(*_DC_LUM)
    ac_l = _canonical_codes(*_AC_LUM)
    dc_c = _canonical_codes(*_DC_CHROM)
    ac_c = _canonical_codes(*_AC_CHROM)

    writer = _BitWriter()
    preds = [0] * len(planes)
    # interleaved MCU scan: 4:4:4 -> one 8x8 block per component per
    # MCU. DCT + quantize + zigzag run vectorized over ALL blocks of a
    # component up front; the Python loop only does entropy coding.
    comp_rows = [
        _quantized_rows(_component_blocks(p), q_lum if ci == 0 else q_chrom)
        for ci, p in enumerate(planes)
    ]
    for m in range(len(comp_rows[0])):
        for ci in range(len(planes)):
            dc = dc_l if ci == 0 else dc_c
            ac = ac_l if ci == 0 else ac_c
            preds[ci] = _entropy_block(writer, comp_rows[ci][m], dc, ac, preds[ci])
    scan = writer.flush()

    def dqt(dest: int, q: np.ndarray) -> bytes:
        body = bytes([dest]) + bytes(
            int(v) for v in q.reshape(64)[_ZIGZAG]
        )
        return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body

    ncomp = 1 if gray else 3
    sof_comps = b"".join(
        bytes([cid, 0x11, 0 if cid == 1 else 1])
        for cid in range(1, ncomp + 1)
    )
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp) + sof_comps
    sos_comps = b"".join(
        bytes([cid, 0x00 if cid == 1 else 0x11]) for cid in range(1, ncomp + 1)
    )
    sos = b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp) + sos_comps + b"\x00\x3f\x00"

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += dqt(0, q_lum)
    if not gray:
        out += dqt(1, q_chrom)
    out += sof
    out += _dht(0, 0, _DC_LUM) + _dht(1, 0, _AC_LUM)
    if not gray:
        out += _dht(0, 1, _DC_CHROM) + _dht(1, 1, _AC_CHROM)
    out += sos + scan + b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder (general baseline sequential) -------------------------------------


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                self.pos += 1  # skip stuffed 0x00
            self.acc = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Drop pad bits and consume the next RSTn marker (scanning
        forward past any residue keeps one bad interval from desyncing
        the rest — the marker's whole point)."""
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d) and not (
            d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        self.pos += 2


def _decode_table(bits, values):
    table = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(reader: _BitReader, table) -> int:
    code, length = 0, 0
    while True:
        code = (code << 1) | reader.read_bit()
        length += 1
        if (length, code) in table:
            return table[(length, code)]
        if length > 16:
            raise ValueError("bad Huffman stream")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_block(reader: _BitReader, dc_t, ac_t, pred: int, q: np.ndarray):
    """One 8x8 block: entropy decode -> dequantize -> inverse DCT.
    Returns (pixel block, new DC predictor)."""
    zz = np.zeros(64, dtype=np.int64)
    s = _read_symbol(reader, dc_t)
    diff = _extend(reader.read_bits(s), s) if s else 0
    pred += diff
    zz[0] = pred
    i = 1
    while i < 64:
        sym = _read_symbol(reader, ac_t)
        if sym == 0x00:
            break
        if sym == 0xF0:
            i += 16
            continue
        run, size = sym >> 4, sym & 0xF
        i += run
        if i > 63:
            raise ValueError("AC run past block end")
        zz[i] = _extend(reader.read_bits(size), size)
        i += 1
    coefs = np.zeros(64)
    coefs[_ZIGZAG] = zz
    return _C.T @ (coefs.reshape(8, 8) * q) @ _C, pred




def _planes_to_image(comps, planes, w, h, hmax, vmax):
    """Shared decode tail: nearest-upsample each component plane to the
    full grid, crop, level-shift, and color-convert (both the baseline
    and the progressive paths end here)."""
    up = []
    for ci, (_, hs, vs, _) in enumerate(comps):
        fy, fx = vmax // vs, hmax // hs
        if vmax % vs or hmax % hs:
            raise ValueError("non-integer sampling ratio")
        p = planes[ci]
        if fy > 1:
            p = np.repeat(p, fy, axis=0)
        if fx > 1:
            p = np.repeat(p, fx, axis=1)
        up.append(p[:h, :w] + 128.0)
    if len(comps) == 1:
        out = np.clip(up[0], 0, 255).astype(np.uint8)
        return w, h, "L", out.tobytes()
    y, cb, cr = up[0], up[1] - 128.0, up[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return w, h, "RGB", np.clip(rgb, 0, 255).astype(np.uint8).tobytes()


def _entropy_end(data: bytes, start: int) -> int:
    """First byte index at/after ``start`` where a REAL marker begins
    (0xFF followed by neither a stuffed 0x00 nor an RSTn) — the end of
    one scan's entropy-coded span."""
    i = start
    n = len(data)
    while i + 1 < n:
        if data[i] == 0xFF and data[i + 1] != 0x00 and not (
            0xD0 <= data[i + 1] <= 0xD7
        ):
            return i
        i += 1
    return n


def decode_jpeg(data: bytes):
    """Decode a baseline sequential JPEG (SOF0/SOF1) ->
    (w, h, mode, pixels). File-defined quantization and Huffman
    tables, any integer sampling-factor layout (4:4:4, 4:2:0, 4:2:2,
    ...; subsampled chroma is nearest-upsampled), DRI/RSTn restart
    intervals, APPn/COM segments skipped. Raises ValueError on ANY
    out-of-subset or malformed input — progressive (SOF2), arithmetic
    coding, CMYK, 12-bit precision, truncated/corrupt streams,
    multi-scan files — so callers can honor one except-ValueError
    contract (the structural errors the parser hits on such files are
    wrapped, not leaked)."""
    try:
        return _decode_jpeg_inner(data)
    except ValueError:
        raise
    except (KeyError, IndexError, struct.error, ZeroDivisionError) as exc:
        raise ValueError(f"malformed or out-of-subset JPEG: {exc!r}") from exc


def _decode_jpeg_inner(data: bytes):
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    w = h = 0
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    restart_interval = 0
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        while data[pos + 1] == 0xFF:  # fill bytes before a marker
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        seglen = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            off = 0
            while off < len(body):
                if body[off] >> 4:  # 16-bit table
                    raise ValueError("16-bit quantization not baseline")
                q = np.zeros(64)
                q[_ZIGZAG] = np.frombuffer(body[off + 1 : off + 65], dtype=np.uint8)
                qt[body[off] & 0xF] = q.reshape(8, 8)
                off += 65
        elif marker in (0xC0, 0xC1):
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if ncomp not in (1, 3):
                raise ValueError(f"unsupported component count {ncomp}")
            comps = [
                (
                    body[6 + 3 * i],
                    body[6 + 3 * i + 1] >> 4,
                    body[6 + 3 * i + 1] & 0xF,
                    body[6 + 3 * i + 2],
                )
                for i in range(ncomp)
            ]
        elif marker == 0xC2:
            # progressive DCT: restart the walk in the multi-scan decoder
            return _decode_progressive_inner(data)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("not baseline/progressive DCT (arithmetic/hierarchical)")
        elif marker == 0xC4:
            off = 0
            while off < len(body):
                cls_dest = body[off]
                bits = list(body[off + 1 : off + 17])
                nvals = sum(bits)
                values = list(body[off + 17 : off + 17 + nvals])
                huff[(cls_dest >> 4, cls_dest & 0xF)] = _decode_table(bits, values)
                off += 17 + nvals
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:
            if not comps:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_tables = {
                body[1 + 2 * i]: (body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0xF)
                for i in range(ns)
            }
            comp_tables = [scan_tables[cid] for cid, _, _, _ in comps]
            scan_start = pos + 2 + seglen
            scan_end = data.rindex(b"\xff\xd9")
            reader = _BitReader(data[scan_start:scan_end])
            ncomp = len(comps)
            hmax = max(hs for _, hs, _, _ in comps)
            vmax = max(vs for _, _, vs, _ in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            planes = [
                np.zeros((mcuy * vs * 8, mcux * hs * 8))
                for _, hs, vs, _ in comps
            ]
            preds = [0] * ncomp
            n_mcu = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                        reader.sync_restart()
                        preds = [0] * ncomp
                    for ci, (_, hs, vs, tq) in enumerate(comps):
                        dc_t = huff[(0, comp_tables[ci][0])]
                        ac_t = huff[(1, comp_tables[ci][1])]
                        for dy in range(vs):
                            for dx in range(hs):
                                block, preds[ci] = _decode_block(
                                    reader, dc_t, ac_t, preds[ci], qt[tq]
                                )
                                py = (my * vs + dy) * 8
                                px = (mx * hs + dx) * 8
                                planes[ci][py : py + 8, px : px + 8] = block
                    n_mcu += 1
            return _planes_to_image(comps, planes, w, h, hmax, vmax)
        pos += 2 + seglen
    raise ValueError("no scan found")


# --- Progressive decode (ITU-T T.81 Annex G) --------------------------------
# Scans accumulate quantized coefficients per block; spectral selection
# splits the zigzag band, successive approximation splits bit planes
# (DC point transform = arithmetic shift, AC = magnitude shift with the
# sign reapplied — G.1.2.1/G.1.2.2). Dequantize + IDCT run ONCE after
# the last scan. The refinement algorithms mirror the spec's flowcharts
# (G-7..G-10): correction bits ride along while advancing over
# already-nonzero coefficients, EOB runs count whole blocks.


def _dc_first_op(reader, coef, dc_t, pred, al):
    s = _read_symbol(reader, dc_t)
    diff = _extend(reader.read_bits(s), s) if s else 0
    pred += diff
    coef[0] = pred << al
    return pred


def _dc_refine_op(reader, coef, al):
    if reader.read_bit():
        coef[0] |= 1 << al


def _ac_first_op(reader, coef, ac_t, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(reader, ac_t)
        r, size = sym >> 4, sym & 0xF
        if size == 0:
            if r == 15:
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        coef[k] = _extend(reader.read_bits(size), size) << al
        k += 1
    return eobrun


def _refine_nonzero(reader, coef, k, p1):
    """One correction bit for an already-nonzero coefficient: append
    the next lower magnitude bit when it arrives as 1."""
    if reader.read_bit():
        if (coef[k] & p1) == 0:
            coef[k] += p1 if coef[k] >= 0 else -p1


def _ac_refine_op(reader, coef, ac_t, ss, se, al, eobrun):
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(reader, ac_t)
            r, size = sym >> 4, sym & 0xF
            newval = 0
            if size == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # r == 15 (ZRL): pass over 16 zero-history coefficients
            else:
                if size != 1:
                    raise ValueError("AC refinement size must be 1")
                newval = p1 if reader.read_bit() else -p1
            # advance: correct nonzero-history coefficients in passing,
            # count down r zero-history positions
            while k <= se:
                if coef[k] != 0:
                    _refine_nonzero(reader, coef, k, p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("AC refinement run past band end")
                coef[k] = newval
            k += 1
    if eobrun > 0:
        # whole-block EOB: only correction bits for nonzero history
        while k <= se:
            if coef[k] != 0:
                _refine_nonzero(reader, coef, k, p1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_inner(data: bytes):
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    w = h = 0
    comps: list[tuple[int, int, int, int]] = []
    restart_interval = 0
    coef: list[np.ndarray] = []  # per comp: (bh_pad, bw_pad, 64) zigzag ints
    hmax = vmax = mcux = mcuy = 0
    nblocks: list[tuple[int, int]] = []  # non-interleaved (bh, bw) per comp
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        while data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            off = 0
            while off < len(body):
                if body[off] >> 4:
                    raise ValueError("16-bit quantization not supported")
                q = np.zeros(64)
                q[_ZIGZAG] = np.frombuffer(body[off + 1 : off + 65], dtype=np.uint8)
                qt[body[off] & 0xF] = q.reshape(8, 8)
                off += 65
        elif marker == 0xC2:
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if ncomp not in (1, 3):
                raise ValueError(f"unsupported component count {ncomp}")
            comps = [
                (
                    body[6 + 3 * i],
                    body[6 + 3 * i + 1] >> 4,
                    body[6 + 3 * i + 1] & 0xF,
                    body[6 + 3 * i + 2],
                )
                for i in range(ncomp)
            ]
            hmax = max(hs for _, hs, _, _ in comps)
            vmax = max(vs for _, _, vs, _ in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            for _, hs, vs, _ in comps:
                coef.append(
                    np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int64)
                )
                cw = (w * hs + hmax - 1) // hmax
                ch = (h * vs + vmax - 1) // vmax
                nblocks.append(((ch + 7) // 8, (cw + 7) // 8))
        elif marker == 0xC4:
            off = 0
            while off < len(body):
                cls_dest = body[off]
                bits = list(body[off + 1 : off + 17])
                nvals = sum(bits)
                values = list(body[off + 17 : off + 17 + nvals])
                huff[(cls_dest >> 4, cls_dest & 0xF)] = _decode_table(bits, values)
                off += 17 + nvals
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:
            if not comps:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_sel = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0xF)
                for i in range(ns)
            ]
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if ss == 0 and se != 0:
                raise ValueError(
                    "progressive DC scan must have Se=0 (G.1.1.1.1)"
                )
            cids = [cid for cid, _, _, _ in comps]
            sel = [(cids.index(cid), td, ta) for cid, td, ta in scan_sel]
            scan_start = pos + 2 + seglen
            scan_stop = _entropy_end(data, scan_start)
            reader = _BitReader(data[scan_start:scan_stop])
            eobrun = 0
            preds = [0] * len(comps)
            if ns > 1:
                if ss != 0 or se != 0:
                    raise ValueError("interleaved progressive scan must be DC")
                n_mcu = 0
                for my in range(mcuy):
                    for mx in range(mcux):
                        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                            reader.sync_restart()
                            preds = [0] * len(comps)
                        for ci, td, _ in sel:
                            _, hs, vs, _ = comps[ci]
                            for dy in range(vs):
                                for dx in range(hs):
                                    blk = coef[ci][my * vs + dy, mx * hs + dx]
                                    if ah == 0:
                                        preds[ci] = _dc_first_op(
                                            reader, blk, huff[(0, td)], preds[ci], al
                                        )
                                    else:
                                        _dc_refine_op(reader, blk, al)
                        n_mcu += 1
            else:
                ci, td, ta = sel[0]
                bh, bw = nblocks[ci]
                n_blk = 0
                for by in range(bh):
                    for bx in range(bw):
                        if restart_interval and n_blk and n_blk % restart_interval == 0:
                            reader.sync_restart()
                            preds = [0] * len(comps)
                            eobrun = 0
                        blk = coef[ci][by, bx]
                        if ss == 0:
                            if ah == 0:
                                preds[ci] = _dc_first_op(
                                    reader, blk, huff[(0, td)], preds[ci], al
                                )
                            else:
                                _dc_refine_op(reader, blk, al)
                        elif ah == 0:
                            eobrun = _ac_first_op(
                                reader, blk, huff[(1, ta)], ss, se, al, eobrun
                            )
                        else:
                            eobrun = _ac_refine_op(
                                reader, blk, huff[(1, ta)], ss, se, al, eobrun
                            )
                        n_blk += 1
            pos = scan_stop
            continue
        pos += 2 + seglen
    if not comps or not coef:
        raise ValueError("no SOF2/scan data found")
    # dequantize + IDCT every block of every component, then the shared
    # upsample/color tail
    planes = []
    for ci, (_, hs, vs, tq) in enumerate(comps):
        bh_pad, bw_pad, _ = coef[ci].shape
        zz = coef[ci].reshape(-1, 64).astype(np.float64)
        nat = np.zeros_like(zz)
        nat[:, _ZIGZAG.reshape(-1)] = zz
        blocks = nat.reshape(-1, 8, 8) * qt[tq]
        pix = np.einsum("ij,njk,kl->nil", _C.T, blocks, _C)
        plane = (
            pix.reshape(bh_pad, bw_pad, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_pad * 8, bw_pad * 8)
        )
        planes.append(plane)
    return _planes_to_image(comps, planes, w, h, hmax, vmax)
