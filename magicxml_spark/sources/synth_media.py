"""Deterministic synthetic media generators — seed -> PNG / WAV / AVI
bytes, used by the multimodal invariant-oracle queries (and reusable as
test fixtures).

The driver testdata has no media tables, so the image/video/audio
near-dup queries synthesize their corpus in-query from ``documents``
ids: every seed maps to ONE fixed byte string (pure function, no RNG
state), so planted exact copies are byte-identical at any scale factor
and the planted-pair invariant (q_embedding_cluster_dedup pattern) is
provable.

Distinctness matters for bucket health, not correctness: seed-derived
parameters are chosen injective over ~1M seeds (mixed-radix digits) so
two different ids essentially never produce identical content and
LSH / pigeonhole buckets stay small.

All encoders are the repo's own pure-stdlib codecs (png_lite,
jpeg_lite, riff_media) — the decode side of each query therefore
exercises exactly the production S11 / RIFF paths.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synth_gray(seed: int, w: int = 64, h: int = 48) -> "np.ndarray":
    """Smooth deterministic grayscale image (h, w) uint8. Structure,
    not noise — pHash is a low-frequency signature, so the content is
    a seed-parameterized sum of slow sinusoids (three mixed-radix seed
    digits -> injective over 53*47*43 ~ 107k parameter triples, plus a
    phase term covering the rest of the range)."""
    s1 = seed % 53
    s2 = (seed // 53) % 47
    s3 = (seed // 2491) % 43
    y, x = np.mgrid[0:h, 0:w]
    g = (
        96.0
        + 80.0 * np.sin((x + 2.0 * s1) / 9.0 + 0.13 * s2)
        + 60.0 * np.cos((y + 1.5 * s3) / 7.0 + 0.07 * s1)
        + 0.3 * x
        + 0.2 * (s2 % 7) * (y / h)
    )
    return np.clip(g, 0, 255).astype(np.uint8)


def synth_png(seed: int) -> bytes:
    """Deterministic RGB PNG bytes for one seed (gray replicated to
    3 channels through the repo's own png_lite encoder)."""
    from magicxml_spark.sources.png_lite import encode_png

    g = synth_gray(seed, 64, 48)
    rgb = np.stack([g, g, g], axis=-1)
    return encode_png(64, 48, "RGB", rgb.tobytes())


def synth_wav(seed: int) -> bytes:
    """Deterministic 16-bit mono PCM WAV: three tones whose frequencies
    come from mixed-radix seed digits (injective over 89*97*101 ~ 872k
    seeds), well under Nyquist at the default 8 kHz rate."""
    from magicxml_spark.sources.riff_media import encode_wav

    f1 = 220.0 + (seed % 89) * 23.0  # <= 2244 Hz
    f2 = 260.0 + ((seed // 89) % 97) * 17.0  # <= 1892 Hz
    f3 = 310.0 + ((seed // 8633) % 101) * 11.0  # <= 1410 Hz
    t = np.arange(4000, dtype=np.float64) / 8000
    x = (
        0.5 * np.sin(2 * np.pi * f1 * t)
        + 0.3 * np.sin(2 * np.pi * f2 * t + 1.0)
        + 0.15 * np.sin(2 * np.pi * f3 * t + 2.0)
    )
    pcm = np.clip(x * 20000.0, -32768, 32767).astype("<i2")
    return encode_wav(8000, 1, 16, pcm.tobytes())


def synth_avi(seed: int) -> bytes:
    """Deterministic MJPEG-AVI bytes: four seed-derived 48x32
    gradient frames JPEG-encoded through jpeg_lite. Frame f of seed s
    uses sub-seed s*31 + f so frames within one video are distinct."""
    from magicxml_spark.sources.jpeg_lite import encode_jpeg
    from magicxml_spark.sources.riff_media import encode_mjpeg_avi

    frames = []
    for f in range(4):
        g = synth_gray(seed * 31 + f, 48, 32)
        rgb = np.stack([g, g, g], axis=-1)
        frames.append(encode_jpeg(48, 32, "RGB", rgb.tobytes(), quality=92))
    return encode_mjpeg_avi(frames, 48, 32)


_SYNTH_FNS = {"png": synth_png, "wav": synth_wav, "avi": synth_avi}


def synth_media_df(
    ids: DataFrame,
    kind: str,
    plant_mod: int | None = None,
    **gen_kwargs,
) -> DataFrame:
    """(id long, content binary) — one synthetic media row per input
    id, generated distributed (mapInPandas; each task renders its own
    partition, no shuffle, no driver bytes).

    ``plant_mod=k`` additionally emits an EXACT byte copy of every row
    whose id % k == 0 under the planted id ``-id - 1`` — always
    negative, so it can never collide with the (nonnegative) originals
    at any scale factor, and always sorts BELOW the original so planted
    pairs come out as (planted, original) under the id_a < id_b
    convention. This is the planted-twin invariant harness: byte-equal
    content must hash identically through any of the fingerprint
    stacks, so every planted row provably pairs with its original.
    """
    import pandas as pd

    gen = _SYNTH_FNS[kind]

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out_ids: list[int] = []
            out_content: list[bytes] = []
            for i in pdf["doc_id"]:
                i = int(i)
                data = gen(i, **gen_kwargs)
                out_ids.append(i)
                out_content.append(data)
                if plant_mod is not None and i % plant_mod == 0:
                    out_ids.append(-i - 1)
                    out_content.append(data)
            yield pd.DataFrame({"id": out_ids, "content": out_content})

    return ids.select("doc_id").mapInPandas(batches, schema="id long, content binary")


def planted_invariant_stats(
    ids: DataFrame, plant_mod: int, pairs: DataFrame
) -> DataFrame:
    """One-row (n_input, n_planted, planted_missed) gate shared by the
    multimodal near-dup queries: every planted row (id < 0) must appear
    in a pair with exactly its original (-id - 1).

    The id frame is rebuilt from the cheap id-only input with the SAME
    planting rule as ``synth_media_df`` (id % plant_mod == 0 -> -id-1),
    so the expensive media generation runs once (inside the pair DAG)
    instead of twice; the oracle's row-count algebra pins the
    correspondence. The found-set join is tiny (planted ids only) and
    broadcast; a spurious pair between two planted copies or two
    originals can neither mask nor fake a specific
    (planted, original) match."""
    base = ids.select(F.col("doc_id").cast("long").alias("id"))
    planted = base.filter(F.col("id") % plant_mod == 0).select(
        (-F.col("id") - 1).alias("id")
    )
    rows = base.unionByName(planted)
    found = (
        pairs.filter(F.col("id_a") < 0)
        .filter(F.col("id_b") == -F.col("id_a") - 1)
        .select(F.col("id_a").alias("id"), F.lit(1).alias("hit"))
        .distinct()
    )
    is_planted = (F.col("id") < 0).cast("long")
    return rows.join(F.broadcast(found), "id", "left").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(is_planted).alias("n_planted"),
        F.sum(is_planted * F.col("hit").isNull().cast("long")).alias(
            "planted_missed"
        ),
    )
