"""Seeded fuzz: scalar functions vs Python reimplementations of the
reference, over one batched DataFrame pass (hundreds of random inputs,
single Spark job)."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from magicxml_spark.functions.strings import dedup_delimited, sanitize_name
from tests.test_strings import reference_dedup, reference_sanitize

_ALPHABETS = [
    "abc XYZ 123",
    "абвгд ЕЖЗ",
    "()[]«»  ///?!.,",
    "™®©§  \t\n",
    "名字 한글 ß",
    "'\"`~@#$%^&*+=<>|№°\\/-",
]


def _random_strings(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        chars = []
        for _ in range(rng.randrange(0, 40)):
            chars.append(rng.choice(rng.choice(_ALPHABETS)))
        out.append("".join(chars))
    return out


def test_sanitize_fuzz(spark):
    values = _random_strings(300, seed=1)
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r[0] for r in df.select(sanitize_name(F.col("v"))).collect()]
    want = [reference_sanitize(v) for v in values]
    mismatches = [(v, g, w) for v, g, w in zip(values, got, want) if g != w]
    assert not mismatches, mismatches[:3]


def test_dedup_fuzz(spark):
    rng = random.Random(2)
    base = _random_strings(100, seed=3)
    values = [
        "///".join(rng.choice(base) for _ in range(rng.randrange(0, 8)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r[0] for r in df.select(dedup_delimited(F.col("v"))).collect()]
    want = [reference_dedup(v) for v in values]
    mismatches = [(v, g, w) for v, g, w in zip(values, got, want) if g != w]
    assert not mismatches, mismatches[:3]


def test_digit_like_tag_rule_fuzz():
    # pure-Python agreement between the regex used in Spark plans and
    # the reference's replace('.','',1).isdigit()
    rng = random.Random(4)
    pat = re.compile(r"[0-9]+\.?[0-9]*|\.[0-9]+")
    for _ in range(2000):
        s = "".join(rng.choice("0123456789..ab") for _ in range(rng.randrange(0, 6)))
        ref = s.replace(".", "", 1).isdigit()
        assert bool(pat.fullmatch(s)) == ref, s


# ---------------------------------------------------------------------------
# Round-4 second-pass fuzz: codecs round-trip byte-exactly, winnowing
# matches its independent reimplementation — seeded random inputs,
# no hypothesis shrinkage needed (failures print the seed case).
# ---------------------------------------------------------------------------


def test_fuzz_gif_lzw_roundtrip():
    """Random palette images (varied sizes, palette widths, interlace)
    survive the in-test encoder -> decode_gif byte-exactly — exercises
    LZW code growth across width boundaries and deferred-clear."""
    import random

    from magicxml_spark.sources.image_lite import decode_gif
    from tests.test_binary_converters import _make_gif

    rng = random.Random(2024)
    for trial in range(12):
        w = rng.randrange(1, 50)
        h = rng.randrange(1, 40)
        ncol = rng.choice([2, 4, 7, 16, 64])
        palette = bytes(rng.randrange(256) for _ in range(ncol * 3))
        idx = bytes(rng.randrange(ncol) for _ in range(w * h))
        interlace = rng.random() < 0.5
        got = decode_gif(_make_gif(w, h, palette, idx, interlace=interlace))
        assert got is not None, (trial, w, h, ncol, interlace)
        expect = b"".join(palette[3 * p : 3 * p + 3] for p in idx)
        assert bytes(got[3]) == expect, (trial, w, h, ncol, interlace)


def test_fuzz_bmp_roundtrip():
    import random

    from magicxml_spark.sources.image_lite import decode_bmp
    from tests.test_binary_converters import _make_bmp

    rng = random.Random(77)
    for trial in range(12):
        w = rng.randrange(1, 40)
        h = rng.randrange(1, 30)
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        kwargs = rng.choice([{}, {"top_down": True}, {"bpp": 32}])
        got = decode_bmp(_make_bmp(w, h, rgb, **kwargs))
        assert got is not None and bytes(got[3]) == rgb, (trial, w, h, kwargs)


def test_fuzz_winnowing_matches_reference(spark):
    """Random token streams (tiny vocab maximizes window-min tie
    cases) — Spark winnowing equals the pure-Python reimplementation
    on every doc."""
    import random

    from magicxml_spark.operators.dedup import winnow_fingerprint_sets
    from tests.test_extensions import _ref_winnow

    rng = random.Random(13)
    vocab = ["a", "bb", "ccc", "Dd", "e1", "ff-g", "zz"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 60)))
        for _ in range(60)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {
        r["id"]: list(r["fps"])
        for r in winnow_fingerprint_sets(docs, "doc_id", "text").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_winnow(t), (i, t)


def test_fuzz_jpeg_decoder_rejects_corrupt_bytes():
    """Truncations and byte flips of valid files must raise ValueError
    (the documented contract), never KeyError/IndexError/struct.error."""
    import random

    from magicxml_spark.sources.jpeg_lite import decode_jpeg, encode_jpeg

    rng = random.Random(5)
    base = encode_jpeg(16, 12, "RGB", bytes(rng.randrange(256) for _ in range(16 * 12 * 3)))
    for trial in range(30):
        broken = bytearray(base)
        if trial % 2:
            broken = broken[: rng.randrange(4, len(broken))]  # truncate
        else:
            for _ in range(rng.randrange(1, 6)):  # corrupt
                broken[rng.randrange(2, len(broken))] = rng.randrange(256)
        try:
            decode_jpeg(bytes(broken))  # decoding to junk pixels is fine
        except ValueError:
            pass  # the contract


# ---------------------------------------------------------------------------
# Round-5 fuzz: the new codecs survive randomized inputs against their
# independent in-test twins — seeded, no hypothesis shrinkage needed.
# ---------------------------------------------------------------------------


def test_fuzz_tiff_lzw_packbits_roundtrip():
    """Random byte streams (uniform, runs-heavy, small-alphabet) round
    trip through the independent TIFF-LZW and PackBits encoders into
    tiff_lite's decoders — stresses early-change width bumps at every
    boundary and PackBits literal/run alternation."""
    import numpy as np

    from magicxml_spark.sources.tiff_lite import _packbits, _tiff_lzw
    from tests.test_binary_converters import _packbits_encode, _tiff_lzw_encode

    rng = np.random.default_rng(55)
    cases = []
    for n in (1, 7, 63, 511, 2048, 6000):
        cases.append(bytes(rng.integers(0, 256, n, dtype=np.uint8)))      # uniform
        cases.append(bytes(rng.integers(0, 4, n, dtype=np.uint8)))        # tiny alphabet
        cases.append(bytes(np.repeat(rng.integers(0, 256, max(1, n // 9),
                                                  dtype=np.uint8), 9)[:n]))  # runs
    for data in cases:
        assert _tiff_lzw(_tiff_lzw_encode(data), len(data)) == data, len(data)
        assert _packbits(_packbits_encode(data), len(data)) == data, len(data)


def test_fuzz_progressive_jpeg_equals_baseline_twin():
    """Randomized coefficient tensors + randomized legal scan scripts:
    the progressive decode must equal the baseline twin bit-for-bit.
    Stresses EOB runs, ZRL, refinement correction ordering, and
    band-boundary spectral splits far beyond the fixed fixture."""
    import random

    import numpy as np

    from magicxml_spark.sources.jpeg_lite import decode_jpeg
    from tools.jpeg_progressive_ref import (
        encode_baseline_from_coef,
        encode_progressive,
    )

    for seed in range(4):
        rng = np.random.default_rng(100 + seed)
        pyr = random.Random(200 + seed)
        w = int(rng.integers(9, 40))
        h = int(rng.integers(9, 40))
        comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        qt = {0: np.full((8, 8), 3, dtype=np.int64), 1: np.full((8, 8), 7, dtype=np.int64)}
        mcux, mcuy = -(-w // 16), -(-h // 16)
        coef = []
        for bh, bw in ((mcuy * 2, mcux * 2), (mcuy, mcux), (mcuy, mcux)):
            c = np.zeros((bh, bw, 64), dtype=np.int64)
            c[:, :, 0] = rng.integers(-300, 301, (bh, bw))
            density = pyr.choice([0.03, 0.15, 0.5])
            mask = rng.random((bh, bw, 63)) < density
            c[:, :, 1:] = np.where(mask, rng.integers(-90, 91, (bh, bw, 63)), 0)
            coef.append(c)
        split = pyr.choice([5, 20, 40])
        scans = [
            ([0, 1, 2], 0, 0, 0, 2),
            ([0], 1, split, 0, 1),
            ([1], 1, 63, 0, 2),
            ([0], split + 1, 63, 0, 1),
            ([2], 1, 63, 0, 0),
            ([0, 1, 2], 0, 0, 2, 1),
            ([0, 1, 2], 0, 0, 1, 0),
            ([1], 1, 63, 2, 1),
            ([0], 1, 63, 1, 0),
            ([1], 1, 63, 1, 0),
        ]
        prog = encode_progressive(w, h, comps, qt, coef, scans)
        base = encode_baseline_from_coef(w, h, comps, qt, coef)
        assert decode_jpeg(prog) == decode_jpeg(base), seed


def test_fuzz_wav_and_warc_roundtrip():
    """Random PCM params round-trip riff_media's WAV codec."""
    import random

    from magicxml_spark.sources.riff_media import decode_wav, encode_wav

    rng = random.Random(77)
    for _ in range(20):
        rate = rng.choice([8000, 16000, 44100])
        ch = rng.choice([1, 2])
        bits = rng.choice([8, 16])
        frames = rng.randrange(0, 500)
        pcm = bytes(rng.randrange(256) for _ in range(frames * ch * bits // 8))
        dec = decode_wav(encode_wav(rate, ch, bits, pcm))
        assert dec == (rate, ch, bits, frames, pcm)
