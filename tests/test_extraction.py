"""Unit tests for operators/extraction.py — jusText paragraph
classification with hand-worked pins from the paper's rules
(Pomikalek 2011 ch. 4). Engine parity for q_justext_extract lives in
test_oracle_parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from magicxml_spark.operators.extraction import (
    JUSTEXT_STOPWORDS,
    justext_boilerplate,
)

# ~49 words, 36 stopword hits (density 0.73), 221 chars: context-free
# GOOD (>= stopwords_high and > length_high)
GOOD = (
    "the data is in the table and it is good that we have it with the "
    "rest of the set so that the story it tells is clear to all of us "
    "and we can be sure that the numbers are as they should be for the "
    "people who read them"
)
# long but stopword-free: context-free BAD
SALAD = "alpha beta gamma delta epsilon zeta " * 8
# < 70 chars: context-free SHORT
SHORT = "quick stats"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run(spark, text):
    return justext_boilerplate(_docs(spark, [(1, text)])).collect()[0]


def test_justext_context_free_classes(spark):
    assert len(GOOD) > 200
    words = GOOD.split()
    dens = sum(w in JUSTEXT_STOPWORDS for w in words) / len(words)
    assert dens >= 0.32  # the pin's own precondition
    r = _run(spark, GOOD)
    assert (r["n_paras"], r["n_good"], r["text_main"]) == (1, 1, GOOD)
    r = _run(spark, SALAD)
    assert (r["n_good"], r["text_main"]) == (0, "")


def test_justext_short_needs_both_good_neighbors(spark):
    # good | short | good -> short promoted (paper's smoothing)
    r = _run(spark, f"{GOOD}\n\n{SHORT}\n\n{GOOD}")
    assert r["n_good"] == 3 and SHORT in r["text_main"]
    # bad | short | good -> short stays bad (needs BOTH)
    r = _run(spark, f"{SALAD}\n\n{SHORT}\n\n{GOOD}")
    assert r["n_good"] == 1 and SHORT not in r["text_main"]
    # document edge counts as bad: short leading the doc dies
    r = _run(spark, f"{SHORT}\n\n{GOOD}")
    assert r["n_good"] == 1 and SHORT not in r["text_main"]


def test_justext_neargood_needs_one_good_neighbor(spark):
    # mid-density long paragraph: 6 stopwords / 20 words = 0.30 ->
    # neargood (in [stopwords_low, stopwords_high)), > length_low chars
    near = "the and of to in on " + " ".join(f"zebra{j}" for j in range(14))
    words = near.split()
    dens = sum(w in JUSTEXT_STOPWORDS for w in words) / len(words)
    assert 0.30 <= dens < 0.32, dens
    assert len(near) >= 70
    r = _run(spark, f"{near}\n\n{GOOD}")  # one good neighbor -> good
    assert r["n_good"] == 2
    r = _run(spark, f"{SALAD}\n\n{near}\n\n{SALAD}")  # bad on both sides
    assert r["n_good"] == 0


def test_justext_copyright_kills_regardless(spark):
    marked = GOOD + " copyright"
    r = _run(spark, f"{GOOD}\n\n{marked}\n\n{GOOD}")
    assert r["n_good"] == 2 and "copyright" not in r["text_main"]


def test_justext_empty_and_fraction(spark):
    r = _run(spark, "")
    assert (r["n_paras"], r["n_good"], r["main_frac"]) == (1, 0, 0.0)
    r = _run(spark, f"{GOOD}\n\n{SALAD}")
    assert 0.0 < r["main_frac"] < 1.0
    assert r["main_frac"] == round(len(GOOD) / (len(GOOD) + 2 + len(SALAD)), 4)


def test_chunk_documents_hand_computed(spark):
    import pytest
    from magicxml_spark.operators.extraction import chunk_documents

    text = " ".join(f"t{j}" for j in range(10))  # 10 tokens
    rows = chunk_documents(
        _docs(spark, [(1, text), (2, "a b"), (3, "")]),
        chunk_tokens=4,
        overlap=1,
    ).collect()
    got = {
        (r["doc_id"], r["chunk_id"]): (
            r["start_tok"],
            r["n_tokens"],
            r["chunk_text"],
        )
        for r in rows
    }
    # doc 1: step=3, n=10 -> ceil((10-1)/3)=3 windows at 0,3,6...
    # window 3 would start at 9 < 10 -> ceil(9/3)=3 windows: 0,3,6
    # tokens 6..9 = t6 t7 t8 t9 (4 tokens) — every token covered,
    # consecutive windows share 1 token
    assert got[(1, 0)] == (0, 4, "t0 t1 t2 t3")
    assert got[(1, 1)] == (3, 4, "t3 t4 t5 t6")
    assert got[(1, 2)] == (6, 4, "t6 t7 t8 t9")
    assert (1, 3) not in got
    # short doc -> exactly one (short) chunk; empty doc -> none
    assert got[(2, 0)] == (0, 2, "a b")
    assert not [k for k in got if k[0] == 3]
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [(1, "x")]), chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [(1, "x")]), chunk_tokens=0)


def test_chunk_documents_covers_every_token_no_gaps(spark):
    import random

    from magicxml_spark.operators.extraction import chunk_documents

    rng = random.Random(11)
    rows = [
        (i, " ".join(f"w{rng.randint(0, 9)}" for _ in range(rng.randint(1, 97))))
        for i in range(50)
    ]
    out = chunk_documents(
        _docs(spark, rows), chunk_tokens=16, overlap=4
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, text in rows:
        toks = text.split()
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        # reconstruction: stitch with the overlap dropped
        rebuilt = chunks[0]["chunk_text"].split()
        for c in chunks[1:]:
            rebuilt += c["chunk_text"].split()[4:]
        assert rebuilt == toks, i
        # starts advance by exactly step; last window starts in-range
        for j, c in enumerate(chunks):
            assert c["start_tok"] == j * 12
            assert c["start_tok"] < len(toks)


def test_justext_per_language_stopword_lists_flip_verdict(spark):
    # VERDICT r9 #7: the paper's multilingual knob — the same German
    # page classifies GOOD under the de list and BAD under the
    # English-only list (its German function words have ~zero density
    # against the en list). The mechanics never change; the list does.
    from magicxml_spark.operators.extraction import justext_boilerplate

    de_para = (
        "der hund und die katze sind nicht mit dem mann in dem haus "
        "und sie werden auch nicht mit einem anderen mann aus dem "
        "dorf zu der alten frau gehen wenn es nur noch schon kann "
        "und das ist auch schon alles was wir von der sache wissen"
    )
    assert len(de_para) > 200
    df = spark.createDataFrame(
        [(1, de_para, "de")], "doc_id long, text string, lang string"
    )
    multi = justext_boilerplate(df, lang_col="lang").collect()[0]
    en_only = justext_boilerplate(df).collect()[0]
    assert multi["n_good"] == 1 and multi["text_main"] == de_para
    assert en_only["n_good"] == 0 and en_only["text_main"] == ""
    # a language with no list gets zero density -> nothing survives
    no_list = justext_boilerplate(
        df.withColumn("lang", F.lit("xx")), lang_col="lang"
    ).collect()[0]
    assert no_list["n_good"] == 0
    # mixed-language frame: each document classified by ITS OWN list
    en_para = (
        "it is easy to see that the set of rows in the table is the "
        "same as it was and that the people who read the story will "
        "be sure of the numbers as they are laid out for all of us "
        "to see in the end of the day and this is the way it is"
    )
    both = spark.createDataFrame(
        [(1, de_para, "de"), (2, en_para, "en")],
        "doc_id long, text string, lang string",
    )
    out = {
        r["doc_id"]: r["n_good"]
        for r in justext_boilerplate(both, lang_col="lang").collect()
    }
    assert out == {1: 1, 2: 1}
