"""Unit tests for operators/curation.py — the published-recipe
curation filters (Dolma paragraph dedup, Gopher rules, C4 line
cleaning, exact ntile, CCNet perplexity buckets) on crafted inputs
with hand-computed expectations. Engine-level parity for the
registered queries lives in test_oracle_parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from magicxml_spark.operators.curation import (
    GOPHER_STOPWORDS,
    c4_line_filters,
    exact_ntile,
    gopher_quality,
    paragraph_dedup,
    perplexity_buckets,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_paragraph_dedup_first_occurrence_wins(spark):
    df = _docs(
        spark,
        [
            (1, "alpha\n\nbeta"),
            (2, "beta\n\ngamma"),  # beta already seen in doc 1
            (3, "alpha\n\nbeta"),  # both seen -> empty doc
        ],
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, "doc_id", "text").collect()
    }
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_dedup"] == "alpha\n\nbeta"
    assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_dedup"] == "gamma"
    assert out[3]["n_paras"] == 2 and out[3]["n_kept"] == 0
    assert out[3]["text_dedup"] == ""


def test_paragraph_dedup_position_order_within_doc(spark):
    # first occurrence is decided by (doc order, position order)
    df = _docs(spark, [(5, "x\n\ny\n\nx")])
    row = paragraph_dedup(df, "doc_id", "text").collect()[0]
    assert row["n_paras"] == 3
    assert row["n_kept"] == 2
    assert row["text_dedup"] == "x\n\ny"


def test_gopher_repetition_known_fractions(spark):
    # "a b a b a b": normalized chars = 11; 2-grams: "a b" x3, "b a" x2
    # -> top-2 mass = 3 * len("a b") = 9 -> 9/11
    df = _docs(spark, [(1, "a b a b a b")])
    row = gopher_quality(df).collect()[0]
    assert row["top_ngram_frac_2"] == round(9 / 11, 6)
    # 5-grams: "a b a b a", "b a b a b" each once -> no duplication
    assert row["dup_ngram_frac_5"] == 0.0


def test_gopher_repetition_dup_mass_can_exceed_one(spark):
    # documented approximation (no character de-overlap): "x y" * 4 has
    # 5-grams {"x y x y x" x2, "y x y x y" x2}; dup mass = 2 * 1 * 9 =
    # 18 over 15 normalized chars = 1.2 — the APPROXIMATE fraction may
    # exceed 1 on pathological repetition, which only strengthens the
    # over-threshold signal the rule exists for.
    df = _docs(spark, [(1, "x y x y x y x y")])
    row = gopher_quality(df).collect()[0]
    assert row["dup_ngram_frac_5"] == round(18 / 15, 6)


def test_gopher_repetition_short_doc_all_zero(spark):
    df = _docs(spark, [(1, "word")])
    row = gopher_quality(df).collect()[0]
    for n in (2, 3, 4):
        assert row[f"top_ngram_frac_{n}"] == 0.0
    for n in range(5, 11):
        assert row[f"dup_ngram_frac_{n}"] == 0.0


def test_gopher_top_ngram_is_most_frequent_not_largest_mass(spark):
    # Published definition (Rae et al. 2021 A1.1): "fraction of
    # characters in the MOST FREQUENT n-gram". 2-grams here:
    # "longword longword" x1 (mass 17), "xx yy" x3 (mass 15),
    # "longword xx" x1, "yy xx" x2. Most frequent = "xx yy" -> mass 15
    # over 35 normalized chars (NOT 17/35 — a rarer, longer gram must
    # not win).
    df = _docs(spark, [(1, "longword longword xx yy xx yy xx yy")])
    row = gopher_quality(df).collect()[0]
    assert row["top_ngram_frac_2"] == round(15 / 35, 6)


def test_gopher_top_ngram_count_ties_break_by_char_mass(spark):
    # all 2-grams occur once: "aa bb" (5), "bb cc" (5), "cc ddd" (6)
    # -> tie on count, the larger char mass wins -> 6/12
    df = _docs(spark, [(1, "aa bb cc ddd")])
    row = gopher_quality(df).collect()[0]
    assert row["top_ngram_frac_2"] == round(6 / 12, 6)


def test_gopher_repetition_matches_explode_reference(spark):
    # Equivalence pin for the r12 in-row rewrite: a seeded randomized
    # corpus (repetition-heavy small vocab so runs, ties and
    # multi-order duplicates all occur) compared against a plain
    # Python reference implementing the published algebra directly
    # (per-gram counts -> top = lexicographic (count, mass) max, dup
    # mass = sum (c-1)*len). Any drift in the fold/sort/distinct
    # spelling is a value mismatch here.
    import random
    from collections import Counter

    rng = random.Random(42)
    vocab = ["a", "bb", "ccc", "dd", "e", "fff", "longword"]
    rows = []
    for doc_id in range(40):
        n = rng.randint(0, 30)
        words = [rng.choice(vocab) for _ in range(n)]
        if doc_id % 5 == 0 and n >= 6:  # inject explicit runs
            words[2:5] = words[0:3]
        rows.append((doc_id, " ".join(words)))
    df = _docs(spark, rows)
    got = {r["doc_id"]: r for r in gopher_quality(df).collect()}

    for doc_id, text in rows:
        words = [w for w in text.lower().split() if w]
        chars = len(" ".join(words))
        row = got[doc_id]
        for n, kind in [(2, "top"), (3, "top"), (4, "top")] + [
            (k, "dup") for k in range(5, 11)
        ]:
            grams = [
                " ".join(words[i : i + n])
                for i in range(len(words) - n + 1)
            ]
            counts = Counter(grams)
            if not counts or chars == 0:
                expect = 0.0
            elif kind == "top":
                c, m = max(
                    (c, c * len(g)) for g, c in counts.items()
                )
                expect = round(m / chars, 6)
            else:
                dup = sum(
                    (c - 1) * len(g) for g, c in counts.items() if c > 1
                )
                expect = round(dup / chars, 6)
            col = f"{kind}_ngram_frac_{n}"
            assert row[col] == pytest.approx(expect, abs=1e-9), (
                doc_id,
                col,
                row[col],
                expect,
            )


def test_gopher_dup_line_fractions_hand_computed(spark):
    # Rae et al. 2021 Table A1 duplicate-line rows. Lines:
    # [aaa, bbb, aaa, ccc, aaa] -> 5 lines, 3 distinct -> dup count
    # fraction 2/5 = 0.4 (> 0.30 cap); chars: total 15, first
    # occurrences 9 -> dup char fraction 6/15 = 0.4 (> 0.20 cap).
    # Single paragraph (no blank line) -> paragraph fractions 0.
    df = _docs(spark, [(1, "aaa\nbbb\naaa\nccc\naaa")])
    row = gopher_quality(df).collect()[0]
    assert row["dup_line_frac"] == round(2 / 5, 6)
    assert row["dup_line_char_frac"] == round(6 / 15, 6)
    assert row["dup_para_frac"] == 0.0
    assert row["dup_para_char_frac"] == 0.0
    assert row["rep_flag"] is True and row["keep"] is False


def test_gopher_dup_para_fractions_hand_computed(spark):
    # Paragraphs (split on blank line): [para one here, para two here,
    # para one here, unique three!] -> 4 paras, 3 distinct -> dup
    # count fraction 1/4 = 0.25 (UNDER the 0.30 count cap); chars:
    # 13+13+13+13 = 52 total, firsts 13+13+13 = 39 -> char-mass
    # fraction 13/52 = 0.25 (> 0.20 char cap -> the char-mass rule is
    # what trips, exactly why the paper carries both variants).
    text = "para one here\n\npara two here\n\npara one here\n\nunique three!"
    df = _docs(spark, [(7, text)])
    row = gopher_quality(df).collect()[0]
    assert row["dup_para_frac"] == 0.25
    assert row["dup_para_char_frac"] == 0.25
    assert row["rep_flag"] is True and row["keep"] is False
    # line-level view of the same text: the 3 blank separator lines
    # are STRUCTURE and excluded, leaving [p1, p2, p1, u3] -> 1/4 by
    # count, 13/52 by chars
    assert row["dup_line_frac"] == 0.25
    assert row["dup_line_char_frac"] == 0.25


def test_gopher_blank_lines_are_structure_not_duplicates(spark):
    # A well-formed 6-paragraph page (all distinct single-line
    # paragraphs) has 5 blank separator lines; counting '' as a
    # duplicate line would report 4/11 = 0.36 > 0.30 and kill every
    # ordinary multi-paragraph document — blanks must not count.
    # every word distinct so the n-gram repetition rules stay silent
    # and the line/para rules alone decide rep_flag
    words = iter(f"w{i}x{i * 7 % 101}" for i in range(60))
    text = "\n\n".join(
        " ".join(next(words) for _ in range(6)) + "." for _ in range(6)
    )
    row = gopher_quality(_docs(spark, [(1, text)])).collect()[0]
    assert row["dup_line_frac"] == 0.0
    assert row["dup_para_frac"] == 0.0
    # ...and the exclusion changes the VERDICT, not just the number:
    # naive counting would set rep_flag on this perfectly clean page
    assert row["rep_flag"] is False


def test_gopher_blank_dominated_page_hand_computed(spark):
    # VERDICT r8 #8: a blank-DOMINATED page where blank handling
    # decides the repetition verdict. Two distinct content lines
    # separated by a wall of blank lines: raw line split gives
    # [c1, '', '', '', '', '', '', c2] -> naive dup_line_frac = 5/8 =
    # 0.625 (blanks 2..6 "duplicate" blank 1, way over the 0.30 cap);
    # with blanks as structure the content is [c1, c2], zero dups.
    # Paragraph split on \n\n yields ['c1', '', '', 'c2'] (the 6
    # consecutive newlines contain empty paragraphs) — also excluded.
    # long all-distinct-word content lines so no n-gram/top-ngram rule
    # fires for size reasons (the mass caps dominate tiny docs)
    line1 = " ".join(f"aw{i}b{i * 3 % 97}" for i in range(30)) + "."
    line2 = " ".join(f"zq{i}c{i * 5 % 89}" for i in range(30)) + "."
    text = line1 + "\n" * 7 + line2
    row = gopher_quality(_docs(spark, [(1, text)])).collect()[0]
    assert row["dup_line_frac"] == 0.0
    assert row["dup_line_char_frac"] == 0.0
    assert row["dup_para_frac"] == 0.0
    assert row["rep_flag"] is False
    # the SAME wall of blanks with genuinely duplicated content still
    # trips the rule — exclusion removes blanks, not real repeats:
    # content lines [dup, dup, dup] -> 2/3 dup count fraction
    text2 = "dup line." + "\n" * 5 + "dup line." + "\n" * 5 + "dup line."
    row2 = gopher_quality(_docs(spark, [(2, text2)])).collect()[0]
    assert row2["dup_line_frac"] == round(2 / 3, 6)
    assert row2["rep_flag"] is True
    assert row["dup_line_char_frac"] == 0.0


def test_gopher_bullet_line_rule_hand_computed(spark):
    # A1.1: remove when MORE than 90% of lines start with a bullet.
    # 10 lines, 9 bullets -> 0.9 exactly = NOT removed (strict >);
    # 10 of 10 -> 1.0 -> removed. Indentation is ltrimmed first.
    filler = [f"point number {i} here" for i in range(10)]
    nine = "\n".join(
        [f"• {t}" for t in filler[:8]] + ["  - indented bullet too"] + ["plain closing line"]
    )
    ten = "\n".join(f"* {t}" for t in filler)
    df = _docs(spark, [(1, nine), (2, ten)])
    out = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert out[1]["bullet_line_frac"] == 0.9
    assert out[2]["bullet_line_frac"] == 1.0
    # doc 2 fails ONLY the bullet rule among line rules
    assert out[2]["keep"] is False


def test_gopher_ellipsis_line_rule_hand_computed(spark):
    # A1.1: remove when more than 30% of lines end with an ellipsis;
    # both the three-dot and the unicode forms count, trailing spaces
    # are rtrimmed. 2 of 5 lines = 0.4 > 0.3.
    text = "\n".join(
        [
            "a normal first line",
            "this one trails off...  ",
            "another normal line",
            "unicode ellipsis here…",
            "final normal line",
        ]
    )
    df = _docs(spark, [(1, text)])
    row = gopher_quality(df).collect()[0]
    assert row["ellipsis_line_frac"] == round(2 / 5, 6)
    assert row["keep"] is False


def test_gopher_boilerplate_list_page_now_killed(spark):
    # The r7 verdict's motivating miss: a boilerplate list-page that
    # passes EVERY pre-r8 rule — scalar gates fine (120 words, mean
    # word length 5.0, stopwords present) and, because each line is
    # only 3 words and every adjacent-line context is unique, NO
    # n-gram cap trips — but 20 distinct lines each appearing twice
    # is exactly what the duplicate-line rows of Table A1 exist for:
    # dup_line_frac = 20/40 = 0.5 > 0.30 (and char mass 0.5 > 0.20).
    lines = []
    for i in range(20):
        lines += [f"the offer{i} deal{i}"] * 2
    df = _docs(spark, [(1, "\n".join(lines))])
    row = gopher_quality(df).collect()[0]
    assert row["n_words"] == 120 and row["n_stopwords"] == 40
    for n in (2, 3, 4):
        assert row[f"top_ngram_frac_{n}"] <= {2: 0.20, 3: 0.18, 4: 0.16}[n]
    for n in range(5, 11):
        assert row[f"dup_ngram_frac_{n}"] == 0.0
    assert row["dup_line_frac"] == 0.5
    assert row["dup_line_char_frac"] == 0.5
    assert row["rep_flag"] is True and row["keep"] is False


def test_gopher_quality_gates(spark):
    good = " ".join(["the", "quick", "brown", "fox", "jumps"] * 12)  # 60 words
    short = "the of tiny"
    df = _docs(spark, [(1, good), (2, short)])
    out = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert out[1]["n_words"] == 60
    assert out[1]["n_stopwords"] == 12  # "the" x12
    assert out[2]["keep"] is False  # fails min_words
    # the good doc repeats its 5-gram 12x -> repetition flag trips
    assert out[1]["rep_flag"] is True and out[1]["keep"] is False
    # a genuinely varied doc passes (filler words long enough to clear
    # the mean-word-length >= 3 gate)
    varied = " ".join(
        GOPHER_STOPWORDS + [f"word{i}" for i in range(55)]
    )
    row = gopher_quality(_docs(spark, [(3, varied)])).collect()[0]
    assert row["rep_flag"] is False and row["keep"] is True


def test_c4_line_filters_branches(spark):
    rows = [
        # doc 1: six good lines -> survives
        *[(1, p, f"good line number {p} stays.") for p in range(6)],
        (1, 6, "no terminal punctuation here"),  # dropped: punct
        (1, 7, "too short."),  # dropped: < 3 words
        (1, 8, "please enable javascript today."),  # dropped: fragment
        # doc 2: lorem ipsum anywhere kills the whole doc
        *[(2, p, f"good line number {p} stays.") for p in range(6)],
        (2, 6, "lorem ipsum dolor sit amet."),
        # doc 3: only 4 surviving lines -> below min_doc_lines
        *[(3, p, f"good line number {p} stays.") for p in range(4)],
        # doc 4: a curly bracket anywhere kills the whole PAGE —
        # Raffel et al. 2020 §2.2: "any page that contained a curly
        # bracket was removed" (same scope as the lorem-ipsum rule,
        # NOT a line-level drop)
        *[(4, p, f"good line number {p} stays.") for p in range(6)],
        (4, 6, "call function() { now }."),
    ]
    lines = spark.createDataFrame(rows, "doc_id long, pos int, line string")
    out = {r["doc_id"]: r for r in c4_line_filters(lines).collect()}
    assert set(out) == {1}
    assert out[1]["n_lines"] == 9
    assert out[1]["n_kept"] == 6
    assert out[1]["text_clean"].count("\n") == 5
    assert "javascript" not in out[1]["text_clean"]


def test_exact_ntile_matches_closed_form_and_partition_invariant(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    for parts in (1, 3, 7):
        out = exact_ntile(df.repartition(parts), ["v"], 3).collect()
        got = {r["v"]: r["bucket"] for r in out}
        # closed form: floor(rank0 * 3 / 10) + 1
        assert got == {i: (i * 3) // 10 + 1 for i in range(10)}


def test_perplexity_buckets_rank_exact(spark):
    # doc k repeats a token whose corpus frequency decreases with k ->
    # surprisal strictly increases with k -> bucket = rank order
    rows = []
    for k in range(6):
        tok = f"t{k}"
        rows.append((k, " ".join([tok] * (12 - 2 * k))))
    df = _docs(spark, rows)
    out = {r["doc_id"]: r for r in perplexity_buckets(df).collect()}
    assert [out[k]["bucket"] for k in range(6)] == [1, 1, 2, 2, 3, 3]
    assert out[0]["surprisal"] <= out[5]["surprisal"]


def test_bigram_surprisal_separates_fluent_from_shuffled(spark):
    from magicxml_spark.operators.curation import bigram_surprisal

    # doc 1 repeats one bigram pattern (predictable); doc 2 uses the
    # same unigram distribution in a scrambled order -> higher bigram
    # surprisal despite identical unigram stats
    fluent = "a b a b a b a b a b a b"
    shuffled = "a a b b a b b a a b b a"
    df = _docs(spark, [(1, fluent), (2, shuffled)])
    out = {r["doc_id"]: r for r in bigram_surprisal(df).collect()}
    assert out[1]["n_tokens"] == 12 and out[2]["n_tokens"] == 12
    assert out[1]["surprisal"] < out[2]["surprisal"]


def test_bigram_surprisal_single_token_doc(spark):
    from magicxml_spark.operators.curation import bigram_surprisal

    df = _docs(spark, [(1, "solo"), (2, "")])
    rows = bigram_surprisal(df).collect()
    assert {r["doc_id"] for r in rows} == {1}  # empty doc emits no row
    assert rows[0]["n_tokens"] == 1


def _py_ngram_surprisal(
    docs: dict,
    order: int = 3,
    lam: float = 0.75,
    floor: int = 1,
    floor_from: int = 3,
) -> dict:
    """Independent plain-Python reimplementation of the recursive
    Jelinek-Mercer ladder at any order — the hand-check the oracle
    cannot provide (engine-vs-engine parity misses SHARED
    misconceptions).

    Rounding convention: Spark's F.round and DuckDB's round are
    HALF-UP on the value's shortest decimal representation; Python's
    built-in round() is banker's, which differs exactly at .5 ties
    (a 2-token doc with an odd micro sum always lands on one). The
    reference reproduces the engines' convention via Decimal."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def _half_up(x: float, digits: int) -> float:
        q = Decimal(1).scaleb(-digits) if digits else Decimal(1)
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    counts = {k: Counter() for k in range(1, order + 1)}
    n = 0
    for w in docs.values():
        for i in range(len(w)):
            n += 1
            for k in range(1, order + 1):
                if i >= k - 1:
                    counts[k][tuple(w[i - k + 1 : i + 1])] += 1

    def c(k, gram):
        v = counts[k][gram]
        if k >= floor_from and v < floor:
            return 0
        return v

    out = {}
    for d, w in docs.items():
        micros = []
        for i in range(len(w)):
            p = counts[1][(w[i],)] / n
            for k in range(2, min(i + 1, order) + 1):
                gram = tuple(w[i - k + 1 : i + 1])
                ck = c(k, gram)
                ml = ck / counts[k - 1][gram[:-1]] if ck else 0.0
                p = lam * ml + (1 - lam) * p
            micros.append(int(_half_up(-math.log(p) * 1e6, 0)))
        out[d] = _half_up(sum(micros) / len(micros) / 1e6, 6)
    return out


def _py_trigram_surprisal(docs: dict, lam: float = 0.75, floor: int = 1) -> dict:
    return _py_ngram_surprisal(docs, order=3, lam=lam, floor=floor)


def _py_kn_discounts(counts: dict) -> tuple[float, float, float]:
    """Chen & Goodman eq. 26 discounts from a count table, with the
    engine's documented fallback (KenLM --discount_fallback defaults
    0.5/1.0/1.5 when n_r = 0 OR the formula computes a non-positive
    discount — a zero discount would zero the backoff mass of
    pure-count-r contexts and give unseen continuations probability 0)
    and an upper clamp at r — written independently from the paper,
    NOT from the engine's SQL text."""
    n = [0, 0, 0, 0, 0]  # n[r] = #types with count exactly r, r=1..4
    for v in counts.values():
        if 1 <= v <= 4:
            n[v] += 1
    n1, n2, n3, n4 = n[1], n[2], n[3], n[4]
    y = n1 / (n1 + 2 * n2) if (n1 + 2 * n2) > 0 else 0.0

    def rule(r, fb, val):
        if val <= 0.0:
            return fb
        return min(float(r), val)

    d1 = 0.5 if n1 == 0 else rule(1, 0.5, 1.0 - 2.0 * y * n2 / n1)
    d2 = 1.0 if n2 == 0 else rule(2, 1.0, 2.0 - 3.0 * y * n3 / n2)
    d3 = 1.5 if n3 == 0 else rule(3, 1.5, 3.0 - 4.0 * y * n4 / n3)
    return d1, d2, d3


def _py_kn_surprisal(docs: dict, order: int) -> dict:
    """Independent plain-Python interpolated modified Kneser-Ney
    (Chen & Goodman 1998 §3): raw counts at the top order,
    continuation counts below, per-order discounts from
    counts-of-counts, per-context backoff mass, uniform 1/V base.
    Same engine conventions as the JM reference: no <s> padding
    (position i scores at order min(i, n)), HALF-UP micro-nat
    rounding."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def _half_up(x: float, digits: int) -> float:
        q = Decimal(1).scaleb(-digits) if digits else Decimal(1)
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    raw = {k: Counter() for k in range(2, order + 1)}
    vocab = set()
    for w in docs.values():
        for i in range(1, len(w) + 1):
            vocab.add(w[i - 1])
            for k in range(2, order + 1):
                if i >= k:
                    raw[k][tuple(w[i - k : i])] += 1
    adj = {order: dict(raw[order])}
    for k in range(1, order):
        c = Counter()
        for g in raw[k + 1]:
            c[g[1:]] += 1
        adj[k] = dict(c)
    disc = {k: _py_kn_discounts(adj[k]) for k in range(1, order + 1)}
    # per-context: A (total), N1, N2, N3+ over adjusted counts
    ctx = {k: {} for k in range(2, order + 1)}
    for k in range(2, order + 1):
        for g, c in adj[k].items():
            e = ctx[k].setdefault(g[:-1], [0, 0, 0, 0])
            e[0] += c
            if c == 1:
                e[1] += 1
            elif c == 2:
                e[2] += 1
            else:
                e[3] += 1
    a1_total = sum(adj[1].values())
    g1 = [
        a1_total,
        sum(1 for c in adj[1].values() if c == 1),
        sum(1 for c in adj[1].values() if c == 2),
        sum(1 for c in adj[1].values() if c >= 3),
    ]
    v = len(vocab)

    def _disc_num(c: int, k: int) -> float:
        d1, d2, d3 = disc[k]
        if c == 0:
            return 0.0
        if c == 1:
            return 1.0 - d1
        if c == 2:
            return 2.0 - d2
        return float(c) - d3

    def p(k: int, gram: tuple) -> float:
        if k == 1:
            if a1_total <= 0:
                return 1.0 / v
            d1, d2, d3 = disc[1]
            gamma = (d1 * g1[1] + d2 * g1[2] + d3 * g1[3]) / a1_total
            return _disc_num(adj[1].get(gram, 0), 1) / a1_total + gamma * (
                1.0 / v
            )
        plow = p(k - 1, gram[1:])
        e = ctx[k].get(gram[:-1])
        if e is None:
            return plow
        total, n1, n2, n3p = e
        d1, d2, d3 = disc[k]
        return _disc_num(adj[k].get(gram, 0), k) / total + (
            (d1 * n1 + d2 * n2 + d3 * n3p) / total
        ) * plow

    out = {}
    for d, w in docs.items():
        if not w:
            continue
        micros = []
        for i in range(1, len(w) + 1):
            m = min(i, order)
            micros.append(
                int(_half_up(-math.log(p(m, tuple(w[i - m : i]))) * 1e6, 0))
            )
        out[d] = _half_up(sum(micros) / len(micros) / 1e6, 6)
    return out


def _py_lm_snapshot_score(
    train: dict,
    score: dict,
    order: int = 3,
    lam: float = 0.75,
    floor: int = 1,
    floor_from: int = 3,
) -> dict:
    """Frozen-LM variant of the reference ladder: counts from TRAIN
    only, OOV unigrams at the 1/N Laplace floor, write-time pruning
    on the train tables."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def _half_up(x: float, digits: int) -> float:
        q = Decimal(1).scaleb(-digits) if digits else Decimal(1)
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    counts = {k: Counter() for k in range(1, order + 1)}
    n = 0
    for w in train.values():
        for i in range(len(w)):
            n += 1
            for k in range(1, order + 1):
                if i >= k - 1:
                    counts[k][tuple(w[i - k + 1 : i + 1])] += 1

    def c(k, gram):
        v = counts[k][gram]
        if k >= floor_from and v < floor:
            return 0
        return v

    out = {}
    for d, w in score.items():
        micros = []
        for i in range(len(w)):
            p = max(counts[1][(w[i],)], 1) / n  # OOV floor: count 1
            for k in range(2, min(i + 1, order) + 1):
                gram = tuple(w[i - k + 1 : i + 1])
                ck = c(k, gram)
                ctx = c(k - 1, gram[:-1]) if k - 1 >= floor_from else counts[k - 1][gram[:-1]]
                ml = ck / ctx if ck and ctx else 0.0
                p = lam * ml + (1 - lam) * p
            micros.append(int(_half_up(-math.log(p) * 1e6, 0)))
        out[d] = _half_up(sum(micros) / len(micros) / 1e6, 6)
    return out


def test_lm_snapshot_write_score_matches_reference(spark, tmp_path):
    from magicxml_spark.operators.curation import (
        score_with_lm_snapshot,
        write_lm_snapshot,
    )

    train = {1: "a b c a b c a b d", 2: "a b c b a"}
    score = {10: "a b c", 11: "a zzz b", 12: "zzz"}  # zzz is OOV
    tdf = _docs(spark, [(d, " ".join(w.split())) for d, w in train.items()])
    sdf = _docs(spark, list(score.items()))
    snap = str(tmp_path / "lm")
    stats = write_lm_snapshot(tdf, snap, order=3, count_floor=1)
    assert stats["n_total"] == 14
    got = {
        r["doc_id"]: r["surprisal"]
        for r in score_with_lm_snapshot(sdf, snap).collect()
    }
    exp = _py_lm_snapshot_score(
        {d: t.split() for d, t in train.items()},
        {d: t.split() for d, t in score.items()},
        order=3,
    )
    assert got == exp
    # the OOV-only doc scores exactly -ln(1/N) = ln(14)
    import math

    assert got[12] == round(
        round(math.log(14) * 1e6) / 1e6, 6
    )


def test_lm_snapshot_empty_train_corpus_degenerates_safely(spark, tmp_path):
    # an LM frozen on an empty corpus must not ANSI-divide-by-zero
    # when scoring (n_total clamps to 1). Hand-derived expectation:
    # every unigram is OOV at the clamped floor 1/1 = 1 (0 nats at
    # position 1); higher positions interpolate with zero ML mass, so
    # p2 = 0.25*1, p3+ = 0.25*0.25 -> micro-nats per position are
    # [0, 1386294, 2772589, 2772589], avg 1.732868
    import math

    from magicxml_spark.operators.curation import (
        score_with_lm_snapshot,
        write_lm_snapshot,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    snap = str(tmp_path / "lm0")
    stats = write_lm_snapshot(empty, snap, order=3)
    assert stats["n_total"] == 0
    out = {
        r["doc_id"]: r
        for r in score_with_lm_snapshot(
            _docs(spark, [(1, "totally unseen words here")]), snap
        ).collect()
    }
    m2 = round(-math.log(0.25) * 1e6)
    m3 = round(-math.log(0.0625) * 1e6)
    assert out[1]["n_tokens"] == 4
    assert out[1]["surprisal"] == round((0 + m2 + m3 + m3) / 4 / 1e6, 6)


def test_trigram_surprisal_hand_computed(spark):
    from magicxml_spark.operators.curation import trigram_surprisal

    texts = {1: "a b c a b c a b c", 2: "a b x c b a", 3: "c"}
    docs = {d: t.split() for d, t in texts.items()}
    df = _docs(spark, list(texts.items()))
    got = {r["doc_id"]: r["surprisal"] for r in trigram_surprisal(df).collect()}
    assert got == _py_trigram_surprisal(docs)
    # count_floor=2 prunes singleton trigrams (doc 2's are all unique)
    got2 = {
        r["doc_id"]: r["surprisal"]
        for r in trigram_surprisal(df, count_floor=2).collect()
    }
    exp2 = _py_trigram_surprisal(docs, floor=2)
    assert got2 == exp2
    assert got2[2] > got[2]  # pruning only ever raises surprisal
    assert got2[1] == got[1]  # doc 1's trigrams all repeat -> survive


def test_ngram_surprisal_order5_hand_computed(spark):
    # the CCNet order: every position's ladder value must match the
    # independent plain-Python order-5 ladder, with and without the
    # count floor (floor=2 prunes singleton 3/4/5-grams)
    from magicxml_spark.operators.curation import ngram_surprisal

    texts = {
        1: "a b c d e a b c d e a b c d e",
        2: "a b c d e b a d c e",
        3: "a b",
    }
    docs = {d: t.split() for d, t in texts.items()}
    df = _docs(spark, list(texts.items()))
    for floor in (1, 2):
        got = {
            r["doc_id"]: r["surprisal"]
            for r in ngram_surprisal(df, order=5, count_floor=floor).collect()
        }
        assert got == _py_ngram_surprisal(docs, order=5, floor=floor), floor
    with pytest.raises(ValueError):
        ngram_surprisal(df, order=1)


def test_ngram_ladder_randomized_corpus_matches_reference(spark):
    # seeded random corpus (tiny vocab -> heavy collisions, repeated
    # tokens, 1-token docs) vs the independent Python ladder at three
    # (order, floor) points — the randomized sweep catches tie and
    # boundary cases the hand pins cannot enumerate
    import random

    from magicxml_spark.operators.curation import ngram_surprisal

    rnd = random.Random(8)
    vocab = ["a", "b", "c", "dd", "e"]
    docs = {
        i: [rnd.choice(vocab) for _ in range(rnd.randint(1, 12))]
        for i in range(1, 41)
    }
    df = _docs(spark, [(d, " ".join(w)) for d, w in docs.items()])
    for order, floor in ((2, 1), (3, 2), (5, 2)):
        got = {
            r["doc_id"]: r["surprisal"]
            for r in ngram_surprisal(df, order=order, count_floor=floor).collect()
        }
        assert got == _py_ngram_surprisal(docs, order=order, floor=floor), (
            order,
            floor,
        )


def test_c4_span_dedup_paper_anchored(spark):
    # Raffel et al. 2020 §2.2: "we discarded all but one of any
    # three-sentence span occurring more than once in the data set."
    from magicxml_spark.operators.curation import c4_span_dedup

    df = _docs(
        spark,
        [
            (1, "Alpha one. Beta two. Gamma three. Delta four."),
            # same 3-sentence span, later doc -> its copy is removed,
            # surrounding unique sentences survive
            (2, "Intro here. Alpha one. Beta two. Gamma three. Outro done."),
            # fewer than 3 sentences: no spans, passes through whole
            (3, "Too short. Just two."),
            # ! and ? terminators segment too
            (4, "Alpha one! Beta two? Unique tail four."),
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in c4_span_dedup(df).collect()}
    # the duplicated span survives EXACTLY once, first occurrence wins
    assert out[1]["text_dedup"] == "Alpha one. Beta two. Gamma three. Delta four."
    assert out[2] == {
        "doc_id": 2,
        "n_sentences": 5,
        "n_kept": 2,
        "text_dedup": "Intro here. Outro done.",
    }
    assert out[3]["text_dedup"] == "Too short. Just two."
    # different terminal punctuation -> different sentences -> no dup
    assert out[4]["n_kept"] == 3


def test_c4_span_dedup_overlap_and_within_doc(spark):
    from magicxml_spark.operators.curation import c4_span_dedup

    # within-doc duplicate span: "R. R. R. R." has spans at start 0
    # and 1 with the same hash; the first survives as the keeper, the
    # second occurrence's removal takes sentences 1-3 (the documented
    # no-protection overlap semantics) leaving only sentence 0
    df = _docs(spark, [(1, "R. R. R. R.")])
    out = c4_span_dedup(df).collect()[0]
    assert (out["n_sentences"], out["n_kept"], out["text_dedup"]) == (4, 1, "R.")

    # partial overlap across docs: doc 2 repeats a SHIFTED run of doc
    # 1's sentences — only the aligned duplicate window dies
    df2 = _docs(
        spark,
        [
            (1, "S1 a. S2 b. S3 c. S4 d."),
            (2, "S2 b. S3 c. S4 d. S9 z."),
        ],
    )
    out2 = {r["doc_id"]: r.asDict() for r in c4_span_dedup(df2).collect()}
    assert out2[1]["n_kept"] == 4
    # doc 2's span (S2,S3,S4) duplicates doc 1's start-1 window ->
    # killed; its unique tail survives
    assert out2[2]["text_dedup"] == "S9 z."


def test_c4_span_dedup_empty_and_all_killed(spark):
    from magicxml_spark.operators.curation import c4_span_dedup

    df = _docs(
        spark,
        [(1, "X p. X q. X r."), (2, "X p. X q. X r."), (3, "")],
    )
    out = {r["doc_id"]: r.asDict() for r in c4_span_dedup(df).collect()}
    assert out[1]["n_kept"] == 3  # keeper
    assert out[2] == {
        "doc_id": 2,
        "n_sentences": 3,
        "n_kept": 0,
        "text_dedup": "",
    }
    assert out[3]["n_sentences"] == 0  # empty doc passes through


def test_kn_discounts_hand_computed():
    # Chen & Goodman eq. 26 worked BY HAND (not via any engine):
    # counts {a:1,b:1,c:1, d:2,e:2, f:3,g:3, h:4} -> n1=3 n2=2 n3=2 n4=1
    #   Y  = 3/(3+2*2)          = 3/7
    #   D1 = 1 - 2*(3/7)*2/3    = 1 - 4/7 = 3/7
    #   D2 = 2 - 3*(3/7)*2/2    = 2 - 9/7 = 5/7
    #   D3 = 3 - 4*(3/7)*1/2    = 3 - 6/7 = 15/7
    import pytest

    counts = {"a": 1, "b": 1, "c": 1, "d": 2, "e": 2, "f": 3, "g": 3, "h": 4}
    d1, d2, d3 = _py_kn_discounts(counts)
    assert (d1, d2, d3) == (
        pytest.approx(3 / 7),
        pytest.approx(5 / 7),
        pytest.approx(15 / 7),
    )
    # non-positive formula result -> FALLBACK, never zero: {1:1, 2:1,
    # 3:5} gives Y=1/3, D2 = 2 - 3*(1/3)*5/1 = -3 -> fallback 1.0 (a
    # zero discount would zero pure-count-2 contexts' backoff mass and
    # hand unseen continuations probability 0); D3 = 3 - 4*(1/3)*0/5
    # = 3.0 (top of range, kept)
    counts2 = {"a": 1, "b": 2, "c": 3, "d": 3, "e": 3, "f": 3, "g": 3}
    d1, d2, d3 = _py_kn_discounts(counts2)
    assert d2 == 1.0 and d3 == 3.0
    # fallback: no count-1/2/3 types at all -> KenLM defaults
    assert _py_kn_discounts({}) == (0.5, 1.0, 1.5)
    assert _py_kn_discounts({"a": 7, "b": 9}) == (0.5, 1.0, 1.5)


def test_kn_bigram_hand_computed_probabilities(spark):
    # Full bigram-KN worked example BY HAND (paper formulas, no code):
    # corpus: "a b a b a b" / "b c" / "c a b"
    #   raw bigrams: ab:4 ba:2 bc:1 ca:1
    #   order-2 counts-of-counts: n1=2 n2=1 n3=0 n4=1
    #     Y=2/4, D1 = 1-2*.5*1/2 = 0.5, D2 = 2-0 = 2.0, D3 = 1.5 (n3=0)
    #   continuation counts (suffix types): a:2 b:1 c:1, A1=4, V=3
    #   order-1 counts-of-counts: n1=2 n2=1 -> D = (0.5, 2.0, 1.5)
    #     gamma1 = (0.5*2 + 2.0*1 + 1.5*0)/4 = 0.75
    #   p1(a) = (2-2.0)/4 + .75/3 = 0.25      p1(b) = p1(c) = 0.375
    #     (sums to 1 over the vocab — the distribution check)
    #   ctx a: A=4 N3p=1 -> gamma(a) = 1.5/4 = 0.375
    #   ctx b: A=3 N1=1 N2=1 -> gamma(b) = 2.5/3
    #   p2(b|a) = (4-1.5)/4 + 0.375*0.375       = 0.765625
    #   p2(c|b) = (1-0.5)/3 + (2.5/3)*0.375
    #   p2(a|b) = 0/3       + (2.5/3)*0.25
    #   (p2(a|b)+p2(b|b)+p2(c|b) = 1 — checked by hand)
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from magicxml_spark.operators.curation import ngram_surprisal

    def micro(p):
        return int(
            Decimal(repr(-math.log(p) * 1e6)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )

    df = _docs(spark, [(1, "a b a b a b"), (2, "b c"), (3, "c a b")])
    got = {
        r["doc_id"]: (r["n_tokens"], r["surprisal"])
        for r in ngram_surprisal(df, order=2, smoothing="kn").collect()
    }
    p1a, p1b, p1c = 0.25, 0.375, 0.375
    p_ba = (4 - 1.5) / 4 + (1.5 / 4) * p1b  # p2(b|a) = 0.765625
    p_ab = 0.0 / 3 + (2.5 / 3) * p1a
    p_bc = (1 - 0.5) / 3 + (2.5 / 3) * p1c
    p_ac = (1 - 0.5) / 1 + (0.5 / 1) * p1a  # p2(a|c) = 0.625
    # doc 1 "a b a b a b": p1(a), then ba, ab, ba, ab, ba
    m1 = [micro(p1a)] + [micro(p_ba), micro(p_ab)] * 2 + [micro(p_ba)]
    # doc 2 "b c": p1(b), bc
    m2 = [micro(p1b), micro(p_bc)]
    # doc 3 "c a b": p1(c), ca -> a, ab -> b
    m3 = [micro(p1c), micro(p_ac), micro(p_ba)]

    def s(ms):
        return float(
            Decimal(repr(sum(ms) / len(ms) / 1e6)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    assert got == {1: (6, s(m1)), 2: (2, s(m2)), 3: (3, s(m3))}


def test_kn_surprisal_matches_reference(spark):
    from magicxml_spark.operators.curation import ngram_surprisal

    texts = {
        1: "a b c d e a b c d e a b c d e",
        2: "a b c d e b a d c e",
        3: "a b",
        4: "c",
        5: "a a a a b b a a",
    }
    docs = {d: t.split() for d, t in texts.items()}
    df = _docs(spark, list(texts.items()))
    for order in (2, 3, 5):
        got = {
            r["doc_id"]: r["surprisal"]
            for r in ngram_surprisal(df, order=order, smoothing="kn").collect()
        }
        assert got == _py_kn_surprisal(docs, order=order), order


def test_kn_randomized_corpus_matches_reference(spark):
    # same randomized sweep as the JM ladder: tiny vocab -> heavy
    # collisions, short docs, every discount branch exercised
    import random

    from magicxml_spark.operators.curation import ngram_surprisal

    rnd = random.Random(9)
    vocab = ["a", "b", "c", "dd", "e"]
    docs = {
        i: [rnd.choice(vocab) for _ in range(rnd.randint(1, 12))]
        for i in range(1, 41)
    }
    df = _docs(spark, [(d, " ".join(w)) for d, w in docs.items()])
    for order in (2, 3, 5):
        got = {
            r["doc_id"]: r["surprisal"]
            for r in ngram_surprisal(df, order=order, smoothing="kn").collect()
        }
        assert got == _py_kn_surprisal(docs, order=order), order


def _py_kn_frozen_score(train: dict, score: dict, order: int) -> dict:
    """Frozen-KN twin of :func:`_py_kn_surprisal`: model statistics
    (counts, discounts, contexts, V) come from ``train`` only; ``score``
    docs — including OOV tokens — score against them."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def _half_up(x: float, digits: int) -> float:
        q = Decimal(1).scaleb(-digits) if digits else Decimal(1)
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    raw = {k: Counter() for k in range(2, order + 1)}
    vocab = set()
    for w in train.values():
        for i in range(1, len(w) + 1):
            vocab.add(w[i - 1])
            for k in range(2, order + 1):
                if i >= k:
                    raw[k][tuple(w[i - k : i])] += 1
    adj = {order: dict(raw[order])}
    for k in range(1, order):
        c = Counter()
        for g in raw[k + 1]:
            c[g[1:]] += 1
        adj[k] = dict(c)
    disc = {k: _py_kn_discounts(adj[k]) for k in range(1, order + 1)}
    ctx = {k: {} for k in range(2, order + 1)}
    for k in range(2, order + 1):
        for g, c in adj[k].items():
            e = ctx[k].setdefault(g[:-1], [0, 0, 0, 0])
            e[0] += c
            if c == 1:
                e[1] += 1
            elif c == 2:
                e[2] += 1
            else:
                e[3] += 1
    a1_total = sum(adj[1].values())
    g1 = [
        a1_total,
        sum(1 for c in adj[1].values() if c == 1),
        sum(1 for c in adj[1].values() if c == 2),
        sum(1 for c in adj[1].values() if c >= 3),
    ]
    v = len(vocab)

    def _disc_num(c: int, k: int) -> float:
        d1, d2, d3 = disc[k]
        if c == 0:
            return 0.0
        if c == 1:
            return 1.0 - d1
        if c == 2:
            return 2.0 - d2
        return float(c) - d3

    def p(k: int, gram: tuple) -> float:
        if k == 1:
            if a1_total <= 0:
                return 1.0 / v
            d1, d2, d3 = disc[1]
            gamma = (d1 * g1[1] + d2 * g1[2] + d3 * g1[3]) / a1_total
            return _disc_num(adj[1].get(gram, 0), 1) / a1_total + gamma * (
                1.0 / v
            )
        plow = p(k - 1, gram[1:])
        e = ctx[k].get(gram[:-1])
        if e is None:
            return plow
        total, n1, n2, n3p = e
        d1, d2, d3 = disc[k]
        return _disc_num(adj[k].get(gram, 0), k) / total + (
            (d1 * n1 + d2 * n2 + d3 * n3p) / total
        ) * plow

    out = {}
    for d, w in score.items():
        if not w:
            continue
        micros = []
        for i in range(1, len(w) + 1):
            m = min(i, order)
            micros.append(
                int(_half_up(-math.log(p(m, tuple(w[i - m : i]))) * 1e6, 0))
            )
        out[d] = _half_up(sum(micros) / len(micros) / 1e6, 6)
    return out


def test_kn_snapshot_frozen_score_matches_reference(spark, tmp_path):
    # the frozen lifecycle with guaranteed OOV mass: score docs use a
    # WIDER vocab than the train half — OOV tokens must take the
    # gamma-chained uniform 1/V of the TRAIN vocab, matching the
    # independent Python frozen ladder exactly
    import random

    from magicxml_spark.operators.curation import (
        score_with_lm_snapshot,
        write_lm_snapshot,
    )

    rnd = random.Random(19)
    train_vocab = ["a", "b", "c", "d"]
    score_vocab = ["a", "b", "c", "d", "oovx", "oovy"]
    train = {
        i: [rnd.choice(train_vocab) for _ in range(rnd.randint(1, 10))]
        for i in range(0, 30, 2)
    }
    score = {
        i: [rnd.choice(score_vocab) for _ in range(rnd.randint(1, 10))]
        for i in range(1, 30, 2)
    }
    snap = str(tmp_path / "kn")
    for order in (2, 3):
        write_lm_snapshot(
            _docs(spark, [(d, " ".join(w)) for d, w in train.items()]),
            snap + str(order),
            order=order,
            smoothing="kn",
        )
        got = {
            r["doc_id"]: r["surprisal"]
            for r in score_with_lm_snapshot(
                _docs(spark, [(d, " ".join(w)) for d, w in score.items()]),
                snap + str(order),
            ).collect()
        }
        assert got == _py_kn_frozen_score(train, score, order), order


def test_kn_snapshot_append_raises_and_self_score_is_ladder(spark, tmp_path):
    from magicxml_spark.operators.curation import (
        ngram_surprisal,
        score_with_lm_snapshot,
        write_lm_snapshot,
    )

    docs = _docs(spark, [(1, "a b c a b"), (2, "c c a b a"), (3, "b a d")])
    snap = str(tmp_path / "kn3")
    write_lm_snapshot(docs, snap, order=3, smoothing="kn")
    # self-scoring against the snapshot == the in-plan KN ladder
    a = {r["doc_id"]: r.asDict() for r in score_with_lm_snapshot(docs, snap).collect()}
    b = {
        r["doc_id"]: r.asDict()
        for r in ngram_surprisal(docs, order=3, smoothing="kn").collect()
    }
    assert a == b
    import pytest

    with pytest.raises(ValueError, match="count_floor"):
        write_lm_snapshot(docs, str(tmp_path / "x"), smoothing="kn", count_floor=2)


def test_kn_mode_rejects_floor_and_unknown_smoothing(spark):
    import pytest

    from magicxml_spark.operators.curation import ngram_surprisal

    df = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="count_floor"):
        ngram_surprisal(df, order=3, smoothing="kn", count_floor=2)
    with pytest.raises(ValueError, match="smoothing"):
        ngram_surprisal(df, order=3, smoothing="katz")


def test_lm_snapshot_randomized_oov_matches_reference(spark, tmp_path):
    # random train/score split where the score half uses a WIDER vocab
    # (guaranteed OOV mass) — frozen scoring must match the Python
    # frozen ladder exactly
    import random

    from magicxml_spark.operators.curation import (
        score_with_lm_snapshot,
        write_lm_snapshot,
    )

    rnd = random.Random(88)
    train_vocab = ["a", "b", "c"]
    score_vocab = ["a", "b", "c", "oovx", "oovy"]
    train = {
        i: [rnd.choice(train_vocab) for _ in range(rnd.randint(2, 10))]
        for i in range(1, 16)
    }
    score = {
        i: [rnd.choice(score_vocab) for _ in range(rnd.randint(1, 10))]
        for i in range(100, 121)
    }
    tdf = _docs(spark, [(d, " ".join(w)) for d, w in train.items()])
    sdf = _docs(spark, [(d, " ".join(w)) for d, w in score.items()])
    snap = str(tmp_path / "lmr")
    write_lm_snapshot(tdf, snap, order=3, count_floor=2)
    got = {
        r["doc_id"]: r["surprisal"]
        for r in score_with_lm_snapshot(sdf, snap).collect()
    }
    assert got == _py_lm_snapshot_score(train, score, order=3, floor=2)


def test_trigram_beats_bigram_on_order3_structure(spark):
    from magicxml_spark.operators.curation import (
        bigram_surprisal,
        trigram_surprisal,
    )

    # both docs share the SAME bigram multiset {ab, ba, ab, ba, ...}
    # pattern; doc 1 is the pure repetition, doc 2 breaks only the
    # order-3 structure — the trigram scorer must separate what the
    # bigram scorer sees as closer
    d1 = "a b a b a b a b a b a b"
    d2 = "a b a a b a b b a b a b"
    df = _docs(spark, [(1, d1), (2, d2)])
    tri = {r["doc_id"]: r["surprisal"] for r in trigram_surprisal(df).collect()}
    assert tri[1] < tri[2]
    # and the exact values still match the independent ladder
    assert tri == _py_trigram_surprisal({1: d1.split(), 2: d2.split()})


def test_seeded_shuffle_deterministic_and_partition_invariant(spark):
    from magicxml_spark.operators.sampling import seeded_shuffle

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    a = {r["doc_id"]: r["shuffle_rank"] for r in seeded_shuffle(df, "doc_id", 7).collect()}
    b = {
        r["doc_id"]: r["shuffle_rank"]
        for r in seeded_shuffle(df.repartition(13), "doc_id", 7).collect()
    }
    assert a == b  # same seed -> same permutation at any partitioning
    assert sorted(a.values()) == list(range(1, 101))  # dense 1..n
    c = {r["doc_id"]: r["shuffle_rank"] for r in seeded_shuffle(df, "doc_id", 8).collect()}
    assert c != a  # different seed -> different order
    # and it is a real shuffle, not identity
    assert a != {i: i + 1 for i in range(100)}


def test_quality_classifier_planted_rule(spark):
    from magicxml_spark.analytics.ml import score_quality, train_quality_classifier

    # label = contains the marker token; OOV-only docs score as the
    # zero vector and must still get a prediction (intercept side)
    rows = []
    for i in range(40):
        body = f"filler{i % 7} common words here"
        rows.append((i, f"marker {body}" if i % 3 == 0 else body, 1.0 if i % 3 == 0 else 0.0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    model, vocab, v = train_quality_classifier(df, "label", max_vocab=32)
    scored = score_quality(df, model, vocab, v)
    got = {r["doc_id"]: r for r in scored.collect()}
    assert all(got[i]["quality_pred"] == int(i % 3 == 0) for i in range(40))
    assert all(0.0 <= got[i]["quality_prob"] <= 1.0 for i in range(40))
    # an unseen doc made entirely of OOV terms gets the zero vector,
    # not a crash; prediction is whatever the intercept says
    new = spark.createDataFrame([(99, "zzz qqq www")], "doc_id long, text string")
    out = score_quality(new, model, vocab, v).collect()[0]
    assert out["quality_pred"] in (0, 1)


def test_vocab_features_total_order(spark):
    from magicxml_spark.analytics.ml import vocab_features

    df = spark.createDataFrame(
        [(1, "b a b"), (2, "a c")], "doc_id long, text string"
    )
    _, vocab, v = vocab_features(df, max_vocab=10)
    idx = {r["term"]: r["idx"] for r in vocab.collect()}
    # counts: a=2, b=2, c=1 -> (count desc, term asc): a=0, b=1, c=2
    assert idx == {"a": 0, "b": 1, "c": 2} and v == 3


def test_bpe_apply_known_segmentation(spark):
    from magicxml_spark.operators.text import bpe_apply

    # "there": t h e r e -> (t,h) 'th e r e' -> (th,e) 'the r e' ->
    # (r,e) 'the re' = 2 subwords; "in": i n -> (i,n) 'in' = 1
    df = spark.createDataFrame([(1, "there in")], "doc_id long, text string")
    row = bpe_apply(df).collect()[0]
    assert row["n_words"] == 2
    assert row["n_chars"] == 7
    assert row["n_subwords"] == 3
    # empty doc: zero counts, md5('') fingerprint
    row0 = bpe_apply(
        spark.createDataFrame([(2, "")], "doc_id long, text string")
    ).collect()[0]
    assert row0["n_words"] == 0 and row0["n_subwords"] == 0


def test_bpe_apply_rejects_space_in_merge(spark):
    from magicxml_spark.operators.text import bpe_apply

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bpe_apply(df, merges=[("a b", "c")])


def test_bpe_apply_rejects_oversized_table_with_actionable_error(spark):
    # measured r8: Catalyst analysis stack-overflows between 256 and
    # 384 nested replaces — the compiled arm must refuse, pointing at
    # the pandas arm, BEFORE the analyzer dies
    from magicxml_spark.operators.text import BPE_MAX_COMPILED_MERGES, bpe_apply

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    merges = [(f"s{i}", f"t{i}") for i in range(BPE_MAX_COMPILED_MERGES + 1)]
    with pytest.raises(ValueError, match="bpe_apply_pandas"):
        bpe_apply(df, merges=merges)


def test_bpe_apply_pandas_matches_compiled_chain(spark):
    # the two arms must produce IDENTICAL segmentations (same seg_fp,
    # same counts) on a valid training-order table — pinned over real
    # testdata plus the hand-computed 'there' case
    from magicxml_spark.operators.text import bpe_apply, bpe_apply_pandas

    df = spark.createDataFrame(
        [(1, "there in"), (2, ""), (3, "The THERE there")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r.asDict() for r in bpe_apply(df).collect()}
    b = {r["doc_id"]: r.asDict() for r in bpe_apply_pandas(df).collect()}
    assert a == b
    assert a[1]["n_subwords"] == 3  # the|re + in
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ca = bpe_apply(docs).orderBy("doc_id").collect()
    cb = bpe_apply_pandas(docs).orderBy("doc_id").collect()
    assert [r.asDict() for r in ca] == [r.asDict() for r in cb]


def test_bpe_apply_pandas_handles_real_scale_table(spark):
    # a 32k-entry table (the LLaMA size class) must run — the compiled
    # chain cannot even analyze past ~256. Valid training-order chain:
    # each merge's product feeds later merges ('a'+'a', 'aa'+'aa', ...)
    # plus filler pairs that never match.
    from magicxml_spark.operators.text import bpe_apply_pandas

    merges = [("a", "a"), ("aa", "aa"), ("aaaa", "aaaa")]
    merges += [(f"s{i}", f"t{i}") for i in range(32_000)]
    df = spark.createDataFrame(
        [(1, "aaaaaaaa aaa b")], "doc_id long, text string"
    )
    row = bpe_apply_pandas(df, merges=merges).collect()[0]
    # 'aaaaaaaa' -> a*8 -> aa*4 -> aaaa*2 -> aaaaaaaa = 1 subword;
    # 'aaa' -> aa + a = 2; 'b' = 1
    assert row["n_subwords"] == 4
    assert row["n_words"] == 3 and row["n_chars"] == 12


def test_empty_corpus_edges(spark):
    # every round-7 operator must survive an empty frame (the
    # composed v3 pipeline can produce empty intermediate corpora)
    from magicxml_spark.analytics.ml import vocab_features
    from magicxml_spark.operators.curation import (
        bigram_surprisal,
        perplexity_buckets,
    )
    from magicxml_spark.operators.sampling import seeded_shuffle

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert exact_ntile(empty.selectExpr("doc_id as v"), ["v"], 3).count() == 0
    assert paragraph_dedup(empty).count() == 0
    assert gopher_quality(empty).count() == 0
    assert bigram_surprisal(empty).count() == 0
    assert perplexity_buckets(empty).count() == 0
    assert seeded_shuffle(empty.select("doc_id"), "doc_id", 1).count() == 0
    feats, vocab, v = vocab_features(empty)
    assert vocab.count() == 0 and v == 1 and feats.count() == 0


def test_badwords_filter_whole_word_semantics(spark):
    from magicxml_spark.operators.curation import badwords_filter

    df = spark.createDataFrame(
        [
            (1, "a clean document here"),
            (2, "contains BadWord once"),      # case-insensitive hit
            (3, "subbadwording is not a hit"), # substring must NOT trip
            (4, "badword badword twice"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in badwords_filter(df, ["badword"]).collect()}
    assert out[1]["n_hits"] == 0 and out[1]["keep"] is True
    assert out[2]["n_hits"] == 1 and out[2]["keep"] is False
    assert out[3]["n_hits"] == 0 and out[3]["keep"] is True
    assert out[4]["n_hits"] == 2 and out[4]["keep"] is False
    with pytest.raises(ValueError):
        badwords_filter(df, [])


def test_kn_rejects_empty_train_and_jm_only_knobs(spark, tmp_path):
    # review r9: (a) a KN snapshot trained on an empty corpus would
    # crash EVERY future scoring batch with an ANSI DIVIDE_BY_ZERO at
    # 1/V — the write must refuse up front (and scoring must refuse a
    # legacy V=0 snapshot actionably); (b) the KN dispatch must REJECT
    # the JM-only count floor, never silently discard a caller's "tuning"
    import pytest

    from magicxml_spark.operators.curation import (
        ngram_surprisal,
        write_lm_snapshot,
    )

    empty = _docs(spark, [(1, ""), (2, "   ")])
    with pytest.raises(ValueError, match="empty"):
        write_lm_snapshot(
            empty, str(tmp_path / "kn0"), order=3, smoothing="kn"
        )
    some = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="count_floor"):
        ngram_surprisal(some, order=3, count_floor=2, smoothing="kn")
    # non-empty train still writes and scores fine
    write_lm_snapshot(some, str(tmp_path / "kn1"), order=3, smoothing="kn")
    from magicxml_spark.operators.curation import score_with_lm_snapshot

    out = score_with_lm_snapshot(some, str(tmp_path / "kn1")).collect()
    assert len(out) == 1


def test_gopher_quality_survives_zero_token_documents(spark):
    # ANSI regression (found by the v5 composition): a zero-token
    # document must score 0.0 metrics and keep=False, not raise
    # DIVIDE_BY_ZERO from the by-word-count fractions
    from magicxml_spark.operators.curation import gopher_quality

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "the data and the set " * 20)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    for i in (1, 2, 3):
        assert rows[i]["n_words"] == 0 and rows[i]["mean_word_len"] == 0.0
        assert not rows[i]["keep"]
    assert rows[4]["n_words"] == 100


def test_fineweb_quality_hand_pins(spark):
    # Hand-worked verdicts for each FineWeb rule (Penedo 2024 §3.6 /
    # datatrove defaults: punct > 0.12, short < 0.67 at <=30 chars,
    # dup-char < 0.01, newline-ratio < 0.3)
    from magicxml_spark.operators.curation import fineweb_quality

    long1 = "this is a long enough line for the test to pass today."  # 55
    long2 = "another long enough line that also ends with a stop mark."
    rows = [
        (1, f"{long1}\n{long2}"),               # baseline: keep
        (2, f"{long1[:-1]}\n{long2[:-1]}"),     # no terminal punct -> kill
        (3, "a b.\nc d.\ne f."),                # all short lines -> kill
        (4, f"{long1}\n{long1}\n{long2}"),      # duplicate line -> kill
        (5, long1 + "\n" * 8 + long2),          # newline ratio -> kill
        (6, ""),                                # empty -> kill, fracs 0
    ]
    got = {
        r["doc_id"]: r
        for r in fineweb_quality(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert got[1]["keep"] and got[1]["end_punct_frac"] == 1.0
    assert got[1]["short_line_frac"] == 0.0 == got[1]["dup_line_char_frac"]
    # doc1 newline ratio: 1 newline / 23 words (12 + 11)
    assert got[1]["new_line_ratio"] == round(1 / 23, 6)
    assert not got[2]["keep"] and got[2]["end_punct_frac"] == 0.0
    assert not got[3]["keep"] and got[3]["short_line_frac"] == 1.0
    # doc4 dup chars: one repeat of long1 over 2*len(long1)+len(long2)
    exp = round(len(long1) / (2 * len(long1) + len(long2)), 6)
    assert not got[4]["keep"] and got[4]["dup_line_char_frac"] == exp
    # doc5: 8 newlines (blank lines count toward structure, not
    # lines) / 23 words = 0.347826 > 0.3 -> killed by the newline rule
    # ALONE (its line metrics all pass)
    assert got[5]["new_line_ratio"] == round(8 / 23, 6)
    assert not got[5]["keep"] and got[5]["end_punct_frac"] == 1.0
    assert not got[6]["keep"] and got[6]["n_lines"] == 0
    assert got[6]["end_punct_frac"] == 0.0 == got[6]["new_line_ratio"]
