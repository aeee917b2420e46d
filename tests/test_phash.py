"""Perceptual image hash + image near-dup: re-encode invariance
(PNG vs BMP of the same pixels), perturbation tolerance, discrimination
between unrelated images, and the banded pair join end-to-end."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from magicxml_spark.operators.phash import image_near_dup_pairs, phash64_bytes


def _gradient(w=64, h=48, shift=0):
    """Smooth deterministic test image (structure, not noise — pHash is
    a low-frequency signature)."""
    y, x = np.mgrid[0:h, 0:w]
    g = (
        96
        + 80 * np.sin((x + shift) / 9.0)
        + 60 * np.cos(y / 7.0)
        + 0.3 * x
    )
    return np.clip(g, 0, 255).astype(np.uint8)


def _rgb(gray):
    return np.stack([gray, gray, gray], axis=-1)


def _png(gray):
    from magicxml_spark.sources.png_lite import encode_png

    h, w = gray.shape
    return encode_png(w, h, "RGB", _rgb(gray).tobytes())


def _bmp(gray):
    """Independent in-test BMP writer (24-bit, bottom-up rows)."""
    h, w = gray.shape
    rgb = _rgb(gray)
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            r, g, b = rgb[y, x]
            row += bytes((b, g, r))
        row += b"\x00" * (stride - len(row))
        body += row
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header) + bytes(body)


def _hamming(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_phash_reencode_invariant_and_discriminative():
    g = _gradient()
    h_png = phash64_bytes(_png(g))
    h_bmp = phash64_bytes(_bmp(g))
    assert h_png is not None
    # lossless re-encode: identical pixels -> identical hash
    assert h_png == h_bmp
    # mild brightness scale: low-frequency structure survives
    bright = np.clip(g.astype(np.float64) * 1.12, 0, 255).astype(np.uint8)
    assert _hamming(h_png, phash64_bytes(_png(bright))) <= 6
    # different structure: far away
    other = _gradient(shift=23).T.copy()[:48, :64]
    assert _hamming(h_png, phash64_bytes(_png(other))) > 16
    # corrupt bytes triage as None
    assert phash64_bytes(b"not an image") is None


def test_image_near_dup_pairs_end_to_end(spark, tmp_path):
    from magicxml_spark.sources.binary_docs import read_binary

    g = _gradient()
    near = np.clip(g.astype(np.float64) * 1.08 + 3, 0, 255).astype(np.uint8)
    far = _gradient(shift=29).T.copy()[:48, :64]
    (tmp_path / "a_orig.png").write_bytes(_png(g))
    (tmp_path / "b_near.png").write_bytes(_png(near))
    (tmp_path / "c_far.png").write_bytes(_png(far))
    (tmp_path / "d_junk.png").write_bytes(b"corrupt")
    pairs = image_near_dup_pairs(
        read_binary(spark, str(tmp_path / "*.png")), max_hamming=7
    ).collect()
    names = {
        tuple(sorted((r["id_a"].rsplit("/", 1)[-1], r["id_b"].rsplit("/", 1)[-1])))
        for r in pairs
    }
    assert ("a_orig.png", "b_near.png") in names
    assert all("c_far.png" not in p for p in names)
    assert all(r["hamming"] <= 7 for r in pairs)


def test_hamming_near_dup_guards_and_sign(spark):
    """n_slices/max_hamming contract + negative-bigint sketches slice
    via unsigned shift (bit 63 set must not corrupt banding)."""
    from magicxml_spark.operators.dedup import hamming_near_dup_pairs

    hi = -(1 << 63)  # bit 63 set, all else 0
    rows = [(1, hi), (2, hi | 0b11), (3, 0b11)]
    df = spark.createDataFrame(rows, "id int, sk long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_dup_pairs(
            df, "id", "sk", max_hamming=3, max_bucket_size=None
        ).collect()
    }
    assert got[(1, 2)] == 2  # same high bit, differ in 2 low bits
    assert got[(2, 3)] == 1  # differ only in bit 63
    assert got[(1, 3)] == 3
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dup_pairs(df, "id", "sk", max_hamming=9, n_slices=8)
    with pytest.raises(ValueError, match="divide"):
        hamming_near_dup_pairs(df, "id", "sk", max_hamming=3, n_slices=7)
    # n_slices=1 is legal pigeonhole-wise at max_hamming=0 but its
    # 64-bit slice mask would overflow a LongType literal — must raise
    # the usual ValueError, not a confusing runtime error
    with pytest.raises(ValueError, match="64-bit"):
        hamming_near_dup_pairs(df, "id", "sk", max_hamming=0, n_slices=1)


def test_video_near_dup_composition(spark, tmp_path):
    """Video near-dup: per-frame pHash tokens through MinHash-LSH +
    shingle_k=1 Jaccard — a subset clip pairs with its source, an
    unrelated video doesn't, and the jaccard equals the exact
    frame-set overlap."""
    from magicxml_spark.operators.phash import (
        video_near_dup_pairs,
        video_phash_frames,
    )
    from magicxml_spark.sources.binary_docs import read_binary
    from magicxml_spark.sources.jpeg_lite import encode_jpeg
    from magicxml_spark.sources.riff_media import encode_mjpeg_avi

    w, h = 48, 32

    def frame(shift):
        return encode_jpeg(w, h, "RGB", _rgb(_gradient(w, h, shift=shift)).tobytes(), quality=92)

    src = [frame(s) for s in (0, 5, 11, 17, 23, 31)]          # 6 frames
    clip = src[1:6] + [frame(40)]                              # 5 shared of 7 union
    other = [frame(s) for s in (100, 113, 127, 149)]
    (tmp_path / "full.avi").write_bytes(encode_mjpeg_avi(src, w, h))
    (tmp_path / "clip.avi").write_bytes(encode_mjpeg_avi(clip, w, h))
    (tmp_path / "other.avi").write_bytes(encode_mjpeg_avi(other, w, h))

    vids = read_binary(spark, str(tmp_path / "*.avi"))
    # frame extraction: right counts, decodable hashes
    per = video_phash_frames(vids).groupBy("id").count().collect()
    counts = {r["id"].rsplit("/", 1)[-1]: r["count"] for r in per}
    assert counts == {"full.avi": 6, "clip.avi": 6, "other.avi": 4}

    pairs = video_near_dup_pairs(vids, min_jaccard=0.5).collect()
    names = {
        tuple(sorted((r["id_a"].rsplit("/", 1)[-1], r["id_b"].rsplit("/", 1)[-1]))): r["jaccard"]
        for r in pairs
    }
    assert set(names) == {("clip.avi", "full.avi")}
    # exact frame-set overlap: 5 shared, 7 distinct tokens in the union
    assert abs(names[("clip.avi", "full.avi")] - 5 / 7) < 1e-9
