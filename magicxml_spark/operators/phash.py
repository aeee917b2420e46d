"""Perceptual image hashing (pHash) + image near-duplicate pairs —
the image arm of the dedup family.

The classic DCT perceptual hash (public algorithm, e.g. Zauner,
"Implementation and Benchmarking of Perceptual Image Hash Functions",
2010): decode -> grayscale -> 32x32 downsample -> 2D DCT-II -> keep
the 8x8 low-frequency block -> threshold each coefficient against the
median of the 63 AC coefficients -> 64-bit signature. Visually
identical images (re-encodes, mild brightness/scale changes) land
within a few bits; unrelated images are ~32 bits apart (random).

Spark shape: hashing is one Arrow-batched ``mapInPandas`` pass over
binary image rows (decode via the pure-stdlib image_lite codecs — the
same PNG/BMP/GIF/JPEG/TIFF subset as S11); pair finding reuses the
generic pigeonhole ``hamming_near_dup_pairs`` — one shuffle on the
(slice index, slice value) key, never all-pairs, mega-buckets capped.
Together they give image near-dup the exact scale contract the text
dedup family has.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_N = 32  # downsample grid
_K = 8  # low-frequency block

# mirrored from operators.dedup at call time is awkward for a default
# argument; keep one module-level alias (same value, import-checked in
# tests) so wrappers share the dedup convention: capped by default,
# None = explicit exact opt-out
from magicxml_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_BUCKET_SIZE as _DEFAULT_CAP,
)


def _dct_matrix(n: int) -> "np.ndarray":
    """Orthonormal DCT-II basis (same formula as jpeg_lite's 8x8 _C,
    generalized): C[k, i] = a(k) * cos((2i+1) k pi / 2n)."""
    c = np.zeros((n, n))
    for k in range(n):
        for i in range(n):
            c[k, i] = np.cos((2 * i + 1) * k * np.pi / (2 * n))
    c *= np.sqrt(2.0 / n)
    c[0, :] *= 1 / np.sqrt(2)
    return c


_C32 = _dct_matrix(_N)


def phash64_bytes(data: bytes) -> int | None:
    """64-bit perceptual hash of one encoded image; None when the
    bytes don't decode through the lite codecs (caller triages, the
    job never fails on a corrupt member)."""
    from magicxml_spark.sources.image_lite import decode_image

    dec = decode_image(bytes(data))
    if dec is None:
        return None
    _, w, h, mode, pix = dec
    if w <= 0 or h <= 0:
        return None
    arr = np.frombuffer(bytes(pix), dtype=np.uint8)
    ch = len(mode)
    if arr.size < w * h * ch:
        return None
    arr = arr[: w * h * ch].reshape(h, w, ch).astype(np.float64)
    if ch >= 3:
        gray = 0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    else:
        gray = arr[:, :, 0]
    # nearest-neighbor 32x32 downsample (deterministic; matches the
    # raster blit convention elsewhere in the repo)
    ys = (np.arange(_N) * h) // _N
    xs = (np.arange(_N) * w) // _N
    small = gray[np.ix_(ys, xs)]
    coefs = _C32 @ small @ _C32.T
    block = coefs[:_K, :_K].flatten()
    med = np.median(block[1:])  # AC median; DC would swamp it
    bits = 0
    # bit 0 (DC) stays fixed at 0: DC is almost always far above the AC
    # median, so including it would burn a constant bit — the signature
    # is the documented 63-AC pHash
    for i, v in enumerate(block):
        if i and v > med:
            bits |= 1 << i
    # bigint-safe: Python ints are unbounded, Spark longs are not —
    # map to signed 64-bit two's complement
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_phash(
    df: DataFrame, id_col: str = "path", content_col: str = "content"
) -> DataFrame:
    """(id, phash) per decodable image row; undecodable rows surface
    with a NULL phash (triage, not failure)."""
    import pandas as pd

    id_dtype = dict(df.dtypes)[id_col]

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "phash": [
                        phash64_bytes(c) if c is not None else None
                        for c in pdf[content_col]
                    ],
                }
            )

    return df.select(id_col, content_col).mapInPandas(
        batches, schema=f"id {id_dtype}, phash long"
    )


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str = "path",
    content_col: str = "content",
    max_hamming: int = 7,
    max_bucket_size: int | None = _DEFAULT_CAP,
) -> DataFrame:
    """Image near-duplicate pairs (id_a < id_b, hamming <= cap) over
    binary image rows: pHash then pigeonhole-banded Hamming join.
    ``max_bucket_size`` follows the dedup-module convention: capped by
    default, ``None`` is the explicit exact all-pairs opt-out."""
    from magicxml_spark.operators.dedup import hamming_near_dup_pairs

    hashed = image_phash(df, id_col, content_col).filter(F.col("phash").isNotNull())
    return hamming_near_dup_pairs(
        hashed,
        "id",
        "phash",
        n_bits=64,
        max_hamming=max_hamming,
        n_slices=8,
        max_bucket_size=max_bucket_size,
    )


# ---------------------------------------------------------------------------
# Video near-dup: per-frame pHash sets through the MinHash machinery
# ---------------------------------------------------------------------------


# Frames hashed per video file: bounds the rows one file contributes.
VIDEO_MAX_FRAMES = 256


def video_phash_frames(
    df: DataFrame,
    id_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """(id, frame_idx, phash) per MJPEG-AVI frame (the first
    ``VIDEO_MAX_FRAMES``): the video arm of the perceptual-hash family.
    Frame JPEGs decode through jpeg_lite inside the same mapInPandas
    pass that walks the movi list — one task per video file, no
    shuffle."""
    import pandas as pd

    from magicxml_spark.sources.riff_media import iter_mjpeg_frames

    id_dtype = dict(df.dtypes)[id_col]

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for path, content in zip(pdf[id_col], pdf[content_col]):
                kept = 0
                for idx, jpg in iter_mjpeg_frames(bytes(content)):
                    if kept >= VIDEO_MAX_FRAMES:
                        break
                    ph = phash64_bytes(jpg)
                    if ph is not None:
                        rows.append((path, idx, ph))
                        kept += 1
            yield pd.DataFrame(rows, columns=["id", "frame_idx", "phash"])

    return df.select(id_col, content_col).mapInPandas(
        batches, schema=f"id {id_dtype}, frame_idx int, phash long"
    )


def video_fingerprint_docs(
    df: DataFrame,
    id_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """(id, text) where text is the space-joined hex pHash token per
    sampled frame — a video rendered as a DOCUMENT whose tokens are
    its frames, so the entire text dedup stack (MinHash LSH banding,
    shingle_k=1 Jaccard verify, clustering, caps) applies verbatim.
    Re-muxed copies and subset clips share exact frame bytes -> exact
    tokens; per-frame re-encodes need the Hamming path
    (hamming_near_dup_pairs over video_phash_frames) instead."""
    frames = video_phash_frames(df, id_col, content_col)
    return (
        frames.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("frame_idx", "phash"))),
                    lambda s: F.conv(s["phash"].cast("string"), 10, 16),
                ),
                " ",
            ).alias("text")
        )
    )


def video_near_dup_pairs(
    df: DataFrame,
    id_col: str = "path",
    content_col: str = "content",
    min_jaccard: float = 0.5,
    max_bucket_size: int | None = _DEFAULT_CAP,
) -> DataFrame:
    """Video near-duplicate pairs (id_a < id_b, frame-set jaccard >=
    ``min_jaccard``): MinHash-LSH candidates over the frame-token
    documents, then exact shingle_k=1 Jaccard verify — pure composition
    of the existing dedup operators (one shuffle for banding, one for
    the verify join). ``max_bucket_size`` follows the dedup-module
    convention: capped by default, ``None`` = explicit exact opt-out."""
    from magicxml_spark.operators.dedup import jaccard_pairs, lsh_candidate_pairs

    docs = video_fingerprint_docs(df, id_col, content_col)
    cands = lsh_candidate_pairs(
        docs, "id", "text", shingle_k=1,
        max_bucket_size=max_bucket_size,
    )
    return jaccard_pairs(docs, cands.select("id_a", "id_b"), "id", "text", shingle_k=1).filter(
        F.col("jaccard") >= min_jaccard
    )
