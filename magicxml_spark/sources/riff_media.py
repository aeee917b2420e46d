"""RIFF media codecs: WAV PCM audio and MJPEG AVI video (pure stdlib).

Seventh lite-codec member, un-gating the multimodal stubs where the
container format is publicly specified and simple: WAV (RIFF/WAVE,
integer PCM — the raw format every ASR pipeline normalizes to) and
AVI (RIFF/'AVI ', Motion-JPEG '##dc' frame chunks — each frame is a
baseline/progressive JPEG that jpeg_lite already decodes). Compressed
audio (mp3/aac/opus) and inter-frame video codecs (h264 etc.)
genuinely need real decoder libraries and stay on the import gate.

Writers are included (both are trivial chunk emitters) so pipelines
can round-trip and tests can verify against independently-generated
fixtures.
"""

from __future__ import annotations

import struct


# --- WAV ---------------------------------------------------------------------


def decode_wav(data: bytes):
    """-> (sample_rate, n_channels, bits_per_sample, n_frames, pcm)
    for integer-PCM RIFF/WAVE (8 or 16 bit); None for anything else
    (float/ADPCM/extensible beyond PCM subformat, broken structure)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    pcm = None
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if clen < 16:
                return None
            tag, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if tag == 0xFFFE and clen >= 40:  # WAVE_FORMAT_EXTENSIBLE
                subformat = body[24:26]
                tag = struct.unpack("<H", subformat)[0]
            fmt = (tag, ch, rate, bits)
        elif cid == b"data":
            pcm = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        return None
    tag, ch, rate, bits = fmt
    if tag != 1 or bits not in (8, 16) or ch < 1:
        return None
    frame_bytes = ch * bits // 8
    n_frames = len(pcm) // frame_bytes
    return rate, ch, bits, n_frames, pcm[: n_frames * frame_bytes]


def encode_wav(sample_rate: int, n_channels: int, bits: int, pcm: bytes) -> bytes:
    if bits not in (8, 16):
        raise ValueError("integer PCM 8/16 bit only")
    block = n_channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block, block, bits
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


# --- MJPEG AVI ---------------------------------------------------------------


def _walk_riff(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len, list_type) over one chunk
    level; LIST/RIFF chunks report their list type."""
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if cid in (b"RIFF", b"LIST"):
            yield cid, pos + 12, clen - 4, data[pos + 8 : pos + 12]
        else:
            yield cid, pos + 8, clen, None
        pos += 8 + clen + (clen & 1)


def iter_mjpeg_frames(data: bytes):
    """Yield (frame_index, jpeg_bytes) from an AVI's movi list: every
    ``##dc``/``##db`` stream chunk whose payload starts with the JPEG
    SOI marker. Returns no frames for non-AVI or non-MJPEG files."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return
    idx = 0
    for cid, start, clen, ltype in _walk_riff(data, 12, len(data)):
        if cid == b"LIST" and ltype == b"movi":
            for fcc, fstart, flen, _ in _walk_riff(data, start, start + clen):
                if fcc[2:4] in (b"dc", b"db"):
                    payload = data[fstart : fstart + flen]
                    if payload[:2] == b"\xff\xd8":
                        yield idx, payload
                        idx += 1


def encode_mjpeg_avi(frames: list[bytes], width: int, height: int) -> bytes:
    """Minimal single-stream MJPEG AVI writer at 30 fps (hdrl + movi,
    no index — readers that require idx1 tolerate its absence for
    sequential decode; ours walks movi directly)."""
    avih = struct.pack(
        "<10I",
        1_000_000 // 30,
        0,
        0,
        0,
        len(frames),
        0,
        1,
        0,
        width,
        height,
    ) + b"\x00" * 16
    # full 56-byte AVISTREAMHEADER: flags/priority/language/initial,
    # scale/rate/start/length, bufsize/quality/samplesize, rcFrame RECT
    # (left, top, right, bottom) — strict readers reject a truncated RECT
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 30, 0, len(frames), 0, 0, 0)
        + struct.pack("<4h", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0x47504A4D, width * height * 3, 0, 0, 0, 0
    )

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def list_chunk(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    strl = list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = list_chunk(b"hdrl", chunk(b"avih", avih) + strl)
    movi = list_chunk(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = hdrl + movi
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
