"""Unit tests for operators/retrieval.py — BM25 against an
independent plain-Python reference plus a hand-computed pin (the
shared-misconception guard: engine-vs-oracle parity alone cannot catch
a formula both engines spell identically wrong)."""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest

from magicxml_spark.operators.retrieval import bm25_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _py_bm25(rows, terms, k1=1.2, b=0.75):
    """Independent reference -> {id: (n_hits, s_micro)} for docs with
    at least one hit."""
    toks = {i: [x for x in t.lower().split() if x] for i, t in rows}
    n = len(rows)
    avgdl = sum(len(w) for w in toks.values()) / n
    terms = [t.lower() for t in terms]
    df = Counter(t for w in toks.values() for t in set(w) if t in terms)
    out = {}
    for i, w in toks.items():
        tf = Counter(t for t in w if t in terms)
        if not tf:
            continue
        s = 0
        for t, f in tf.items():
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += round(
                idf * f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * len(w) / avgdl)) * 1e6
            )
        out[i] = (len(tf), s)
    return out


def test_bm25_hand_computed_single_term(spark):
    # N=3, df(cat)=2, avgdl=(2+3+1)/3=2. Doc 1: tf=1, dl=2;
    # idf = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6)
    # contrib = ln(1.6)*1*2.2/(1 + 1.2*(0.25 + 0.75*2/2)) = ln(1.6)*2.2/2.2
    rows = [(1, "cat dog"), (2, "cat cat mouse"), (3, "fish")]
    got = {
        r["doc_id"]: (r["n_hits"], r["score"])
        for r in bm25_topk(_docs(spark, rows), "doc_id", "text", ["cat"]).collect()
    }
    exp1 = round(math.log(1.6) * 1e6) / 1e6
    assert got[1] == (1, exp1)
    # doc 2: tf=2, dl=3 -> ln(1.6)*2*2.2/(2 + 1.2*(0.25 + 1.125))
    exp2 = round(math.log(1.6) * 2 * 2.2 / (2 + 1.2 * 1.375) * 1e6) / 1e6
    assert got[2] == (1, exp2)
    assert 3 not in got  # no hit -> never surfaces
    assert got[2] > got[1]  # tf=2 outranks tf=1 here


def test_bm25_matches_python_reference_randomized(spark):
    rng = random.Random(97)
    vocab = [f"w{j}" for j in range(23)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(150)
    ]
    terms = ["w0", "w7", "w19"]
    got = {
        r["doc_id"]: (r["n_hits"], round(r["score"] * 1e6))
        for r in bm25_topk(
            _docs(spark, rows), "doc_id", "text", terms, k=150
        ).collect()
    }
    assert got == _py_bm25(rows, terms)


def test_bm25_topk_order_and_validation(spark):
    rows = [(i, "hit " * (i + 1)) for i in range(10)]
    out = bm25_topk(_docs(spark, rows), "doc_id", "text", ["hit"], k=3).collect()
    scores = [r["score"] for r in out]
    assert len(out) == 3 and scores == sorted(scores, reverse=True)
    with pytest.raises(ValueError):
        bm25_topk(_docs(spark, rows), "doc_id", "text", [])


def test_bm25_per_query_matches_single_query_arm(spark):
    # restricted to one query's terms, the batch arm must reproduce
    # the literal-term arm's scores exactly (same micro-rounding)
    from magicxml_spark.operators.retrieval import bm25_topk_per_query

    rng = random.Random(31)
    vocab = [f"w{j}" for j in range(19)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
        for i in range(120)
    ]
    docs = _docs(spark, rows)
    terms = ["w1", "w5"]
    queries = spark.createDataFrame(
        [(7, "w1"), (7, "w5"), (8, "zzz")], "query_id int, term string"
    )
    batch = bm25_topk_per_query(
        docs, "doc_id", "text", queries, k=200
    ).collect()
    single = {
        r["doc_id"]: (r["n_hits"], r["score"])
        for r in bm25_topk(docs, "doc_id", "text", terms, k=200).collect()
    }
    got7 = {
        r["doc_id"]: (r["n_hits"], r["score"])
        for r in batch
        if r["query_id"] == 7
    }
    assert got7 == single
    # the absent-term query emits no rows
    assert not [r for r in batch if r["query_id"] == 8]


def test_bm25_per_query_k_bounds_each_group(spark):
    from magicxml_spark.operators.retrieval import bm25_topk_per_query

    rows = [(i, "hit miss " * (i + 1)) for i in range(20)]
    queries = spark.createDataFrame(
        [(1, "hit"), (2, "miss")], "query_id int, term string"
    )
    out = bm25_topk_per_query(
        _docs(spark, rows), "doc_id", "text", queries, k=4
    ).collect()
    from collections import Counter

    per = Counter(r["query_id"] for r in out)
    assert per == {1: 4, 2: 4}
    for qid in (1, 2):
        scores = [r["score"] for r in out if r["query_id"] == qid]
        assert scores == sorted(scores, reverse=True)


def test_bm25_index_query_equals_direct_and_append_rebuild(spark, tmp_path):
    # the frozen-index probe must reproduce the direct scorer exactly
    from magicxml_spark.operators.retrieval import (
        query_bm25_index,
        write_bm25_index,
    )

    rng = random.Random(77)
    vocab = [f"w{j}" for j in range(15)]
    mk = lambda n0, n1: [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
        for i in range(n0, n1)
    ]
    a = mk(0, 60)
    terms = ["w2", "w9"]
    inc = str(tmp_path / "inc")
    stats = write_bm25_index(_docs(spark, a), inc)
    assert stats["n_docs"] == 60
    assert spark.read.parquet(str(tmp_path / "inc" / "postings")).count() > 0
    # direct == index on the initial corpus
    direct = {
        r["doc_id"]: (r["n_hits"], r["score"])
        for r in bm25_topk(_docs(spark, a), "doc_id", "text", terms, k=100).collect()
    }
    probed = {
        r["doc_id"]: (r["n_hits"], r["score"])
        for r in query_bm25_index(spark, inc, terms, k=100).collect()
    }
    assert probed == direct
    import pytest as _pytest

    with _pytest.raises(ValueError):
        query_bm25_index(spark, inc, [])


def test_bm25_per_query_general_arm_matches_compiled(spark):
    # review r9: the >max_compiled_terms general arm (full token
    # explode + terms-dim join, separately-spelled stats agg) had no
    # regression coverage — pin it equal to the compiled arm
    from magicxml_spark.operators.retrieval import bm25_topk_per_query

    rng = random.Random(13)
    vocab = [f"w{j}" for j in range(17)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 22))))
        for i in range(100)
    ]
    docs = _docs(spark, rows)
    queries = spark.createDataFrame(
        [(1, "w3"), (1, "w8"), (2, "w11"), (2, "zzz")],
        "query_id int, term string",
    )
    key = lambda rows_: sorted(
        (r["query_id"], r["doc_id"], r["n_hits"], r["score"]) for r in rows_
    )
    compiled = key(
        bm25_topk_per_query(docs, "doc_id", "text", queries, k=200).collect()
    )
    general = key(
        bm25_topk_per_query(
            docs, "doc_id", "text", queries, k=200, max_compiled_terms=0
        ).collect()
    )
    assert general == compiled and len(general) > 0

def test_bm25_per_query_duplicate_terms_are_set_semantics(spark):
    # ADVICE r9: duplicate (query_id, term) rows must not double-count
    # — both entry points use bag-of-DISTINCT-terms semantics, so a
    # query listing "w1" twice scores identically to listing it once
    from magicxml_spark.operators.retrieval import bm25_topk_per_query

    rng = random.Random(57)
    vocab = [f"w{j}" for j in range(11)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
        for i in range(60)
    ]
    docs = _docs(spark, rows)
    clean = spark.createDataFrame(
        [(1, "w1"), (1, "w4")], "query_id int, term string"
    )
    dup = spark.createDataFrame(
        [(1, "w1"), (1, "w1"), (1, "W1"), (1, "w4")],
        "query_id int, term string",
    )
    as_map = lambda rs: {  # noqa: E731
        r["doc_id"]: (r["n_hits"], r["score"]) for r in rs
    }
    a = as_map(bm25_topk_per_query(docs, "doc_id", "text", clean, k=100).collect())
    b = as_map(bm25_topk_per_query(docs, "doc_id", "text", dup, k=100).collect())
    assert a == b and len(a) > 0
