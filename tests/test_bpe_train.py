"""BPE trainer tests — hand-computed merge pins (the Sennrich §3.2
worked example shape), an INDEPENDENT plain-Python trainer twin
(Counter + max, no Spark code shared), and the apply round-trip."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from magicxml_spark.operators.text import bpe_apply, bpe_train


def _py_bpe_train(texts, max_merges=100, min_count=2):
    """Independent reference: same tie-break contract (count desc,
    then lexicographic 'a\\x01b' asc)."""
    freqs = Counter()
    for t in texts:
        for w in (t or "").lower().split():
            freqs[tuple(w)] += 1
    merges = []
    for _ in range(max_merges):
        pc = Counter()
        for syms, f in freqs.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0] + "\x01" + kv[0][1]))
        if best[1] < min_count:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new = Counter()
        for syms, f in freqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] += f
        freqs = new
    return merges


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_bpe_train_hand_computed_sennrich_shape(spark):
    # low x3, lower, lowest. Hand-worked: pair counts (l,o)=5 (o,w)=5
    # (w,e)=2 (e,r)=1 (e,s)=1 (s,t)=1 -> tie at 5 breaks to (l,o)
    # ('l\x01o' < 'o\x01w'); then (lo,w)=5; then (low,e)=2; every
    # remaining pair counts 1 < min_count=2 -> stop at 3 merges.
    texts = ["low low low", "lower lowest"]
    got = bpe_train(_docs(spark, texts), max_merges=10)
    assert got == [("l", "o"), ("lo", "w"), ("low", "e")]
    assert got == _py_bpe_train(texts, max_merges=10)


def test_bpe_train_matches_python_twin_randomized(spark):
    rng = random.Random(77)
    alpha = "abcde"
    texts = [
        " ".join(
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
            for _ in range(rng.randint(1, 15))
        )
        for _ in range(40)
    ]
    # a run past BPE_CHECKPOINT_EVERY (16) merges re-checkpoints mid-loop
    got = bpe_train(_docs(spark, texts), max_merges=25)
    assert got == _py_bpe_train(texts, max_merges=25)
    assert len(got) > 5  # non-vacuous: the corpus actually trains


def test_bpe_train_apply_roundtrip(spark):
    # the trained table drives bpe_apply: 'low'->[low], 'lower'->
    # [lowe? no: merges are (l,o),(lo,w),(low,e)] -> lower = lowe+r,
    # lowest = lowe+s+t
    texts = ["low low low", "lower lowest"]
    merges = bpe_train(_docs(spark, texts), max_merges=10)
    out = {
        r["doc_id"]: (r["n_subwords"], r["seg_fp"])
        for r in bpe_apply(_docs(spark, texts), merges=merges).collect()
    }
    # doc0: low|low|low = 3 subwords; doc1: lowe r | lowe s t = 5
    assert out[0][0] == 3 and out[1][0] == 5
    # segmentation fingerprint is the exact subword stream
    import hashlib

    assert out[0][1] == hashlib.md5(b"low | low | low").hexdigest()
    assert out[1][1] == hashlib.md5(b"lowe r | lowe s t").hexdigest()


def test_bpe_train_min_count_and_validation(spark):
    # training stops below BPE_MIN_COUNT (2): singleton pairs never merge
    texts = ["ab cd"]
    assert bpe_train(_docs(spark, texts), max_merges=10) == []  # all counts 1
    assert bpe_train(_docs(spark, ["ab ab cd"]), max_merges=10) == [("a", "b")]
    with pytest.raises(ValueError):
        bpe_train(_docs(spark, texts), max_merges=0)


def test_bpe_train_rejects_positional_params(spark):
    # ADVICE r11: the old bpe_train(df, id_col, text_col) positional
    # form would silently bind text_col='doc_id' and train on id
    # strings — keyword-only params make the stale call fail loudly
    from magicxml_spark.operators.text import bpe_train_bytes

    with pytest.raises(TypeError):
        bpe_train(_docs(spark, ["ab ab"]), "doc_id", "text")
    with pytest.raises(TypeError):
        bpe_train_bytes(_docs(spark, ["ab ab"]), "doc_id", "text")
