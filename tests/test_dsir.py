"""Unit tests for operators/dsir.py — DSIR importance resampling
(Xie et al. 2023) against an INDEPENDENT plain-Python reference
(hashlib + math, no Spark/DuckDB shared code) plus semantic pins.
Engine-level parity for q_dsir_select lives in test_oracle_parity."""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from magicxml_spark.operators.dsir import (
    dsir_log_weights,
    dsir_select,
    gumbel_key,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")


def _bucket(gram: str, chars: int = 3) -> str:
    return hashlib.md5(gram.encode()).hexdigest()[:chars]


def _py_dsir(rows, alpha=0.5, chars=3):
    """Independent reference: rows = [(id, text, is_t)] ->
    {id: (n_grams, lw_micro)}."""
    m = 16**chars
    cr: Counter = Counter()
    ct: Counter = Counter()
    per_doc: dict[int, list[str]] = {}
    for i, t, is_t in rows:
        w = [x for x in t.lower().split() if x]
        grams = w + [f"{a} {b}" for a, b in zip(w, w[1:])]
        bs = [_bucket(g, chars) for g in grams]
        per_doc[i] = bs
        for b in bs:
            cr[b] += 1
            if is_t:
                ct[b] += 1
    n_raw, n_tgt = sum(cr.values()), sum(ct.values())
    ratio = {
        b: round(
            (
                math.log((ct[b] + alpha) / (n_tgt + alpha * m))
                - math.log((cr[b] + alpha) / (n_raw + alpha * m))
            )
            * 1e6
        )
        for b in cr
    }
    return {
        i: (len(bs), sum(ratio[b] for b in bs)) for i, bs in per_doc.items()
    }


def _py_gumbel(i: int) -> int:
    h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
    u = (h + 0.5) / 2**32
    return round(-math.log(-math.log(u)) * 1e6)


def test_dsir_log_weights_matches_python_reference(spark):
    rows = [
        (1, "the quick brown fox", True),
        (2, "the quick red fox", True),
        (3, "lorem ipsum dolor sit amet", False),
        (4, "the fox", False),
        (5, "", False),  # zero-token doc scores 0
        (6, "solo", False),  # 1 word -> no bigrams
    ]
    got = {
        r["doc_id"]: (r["n_grams"], r["lw_micro"])
        for r in dsir_log_weights(
            _docs(spark, rows), "doc_id", "text", F.col("is_t")
        ).collect()
    }
    exp = _py_dsir(rows)
    exp[5] = (0, 0)
    assert got == exp
    # semantic pin: target-vocabulary docs outweigh the junk doc
    assert got[4][1] > got[3][1]


def test_dsir_randomized_corpus_matches_reference(spark):
    rng = random.Random(421)
    vocab = [f"w{j}" for j in range(17)]
    rows = [
        (
            i,
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 24))),
            rng.random() < 0.4,
        )
        for i in range(120)
    ]
    got = {
        r["doc_id"]: (r["n_grams"], r["lw_micro"])
        for r in dsir_log_weights(
            _docs(spark, rows), "doc_id", "text", F.col("is_t")
        ).collect()
    }
    assert got == _py_dsir(rows)


def test_dsir_select_topk_and_gumbel(spark):
    rows = [
        (i, "alpha beta gamma" if i % 2 == 0 else "zz yy xx", i % 2 == 0)
        for i in range(40)
    ]
    df = _docs(spark, rows)
    ref = _py_dsir(rows)
    exp_keys = {i: ref[i][1] + _py_gumbel(i) for i, _, _ in rows}
    # top-k keeps the k largest Gumbel keys
    top = dsir_select(df, "doc_id", "text", F.col("is_t"), k=10).collect()
    assert [r["doc_id"] for r in top] == sorted(
        exp_keys, key=lambda i: (-exp_keys[i], i)
    )[:10]
    # the key reproduces the reference exactly and sorts by it
    sel = dsir_select(df, "doc_id", "text", F.col("is_t"), k=40).collect()
    got_keys = {r["doc_id"]: round(r["sel_key"] * 1e6) for r in sel}
    assert got_keys == exp_keys
    keys = [round(r["sel_key"] * 1e6) for r in sel]
    assert keys == sorted(keys, reverse=True)
    # log_w surfaces micro-nats / 1e6
    for r in sel:
        assert round(r["log_w"] * 1e6) == ref[r["doc_id"]][1]


def test_gumbel_key_u_strictly_inside_unit_interval(spark):
    # u = (h + 0.5) / 2^32 can never be 0 or 1, so the double-log is
    # always finite — pinned over a row whose md5 prefix is extreme
    df = spark.range(0, 5000).select(
        gumbel_key(F.col("id"), F.lit(0).cast("bigint")).alias("k")
    )
    assert df.filter(F.col("k").isNull()).count() == 0


def _docs3(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, is_t boolean"
    )


def test_dsir_model_score_matches_inline_weights(spark, tmp_path):
    # freezing the model and scoring the SAME corpus must reproduce
    # dsir_log_weights exactly (no OOV buckets in self-scoring)
    from magicxml_spark.operators.dsir import (
        score_with_dsir_model,
        write_dsir_model,
    )

    rows = [
        (1, "the quick brown fox", True),
        (2, "lorem ipsum dolor", False),
        (3, "the fox jumps", False),
    ]
    df = _docs3(spark, rows)
    path = str(tmp_path / "m")
    stats = write_dsir_model(df, path, F.col("is_t"))
    ref = _py_dsir(rows)
    assert stats["n_raw"] == sum(n for n, _ in ref.values())
    got = {
        r["doc_id"]: (r["n_grams"], round(r["log_w"] * 1e6))
        for r in score_with_dsir_model(
            df.select("doc_id", "text"), path
        ).collect()
    }
    assert got == ref


def test_dsir_model_oov_bucket_takes_smoothed_zero_ratio(spark, tmp_path):
    # a scoring gram whose bucket the training corpus never touched
    # must take the alpha-smoothed cr=ct=0 ratio, not drop out
    from magicxml_spark.operators.dsir import (
        score_with_dsir_model,
        write_dsir_model,
    )

    train = _docs3(spark, [(1, "aa bb", True), (2, "cc dd", False)])
    path = str(tmp_path / "m")
    write_dsir_model(train, path, F.col("is_t"))
    probe = spark.createDataFrame(
        [(9, "zz")], "doc_id long, text string"
    )
    row = score_with_dsir_model(probe, path).collect()[0]
    m = 16**3
    n_raw, n_tgt = 6, 3  # 2+1 grams per doc
    exp = round(
        (
            math.log(0.5 / (n_tgt + 0.5 * m))
            - math.log(0.5 / (n_raw + 0.5 * m))
        )
        * 1e6
    )
    assert (row["n_grams"], round(row["log_w"] * 1e6)) == (1, exp)
