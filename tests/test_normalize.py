"""Unicode/text normalization (operators/normalize.py): hand-computed
semantic pins (the parity-can't-catch-shared-misconceptions rule),
the dedup composition pin VERDICT r10 prescribed, and a seeded
cross-engine fuzz against the generated DuckDB expression."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from magicxml_spark.operators.normalize import (
    norm_text_col,
    normalize_duckdb_expr,
    normalize_text,
)


def _one(spark, text, **knobs):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(norm_text_col(F.col("t"), **knobs).alias("o")).first()["o"]


def test_nfd_twin_composes_to_nfc(spark):
    # e + U+0301 (NFD) -> é (NFC): the exact twin class that escapes
    # hash-keyed dedup on raw bytes
    assert _one(spark, "café") == "café"


def test_zero_width_stripped(spark):
    assert _one(spark, "he​re ‍ and­ so﻿ on⁠!") == (
        "here and so on!"
    )


def test_controls_stripped_but_tab_newline_survive_stages(spark):
    # BEL/NUL/DEL/C1 go; \t is later collapsed, \n is preserved
    assert _one(spark, "a\x00b\x07c\x7fd\x85e") == "abcde"
    assert _one(spark, "a\tb") == "a b"


def test_strip_before_form_enables_blocked_composition(spark):
    # "e" + ZWJ + U+0301: NFC alone cannot compose across the joiner;
    # stripping first, the sequence composes to é — the canonical
    # behavior for dedup keys (documented fixed stage order)
    assert _one(spark, "cafe‍́") == "café"


def test_nul_in_long_string_cross_engine(spark):
    # DuckDB's nfc_normalize truncates heap-length strings at an
    # embedded NUL — the reason controls strip BEFORE the form stage;
    # both engines must agree on this exact shape
    import duckdb

    raw = "start of a long enough string ab\x00cd end of it"
    got = _one(spark, raw)
    assert got == "start of a long enough string abcd end of it"
    con = duckdb.connect()
    expr = normalize_duckdb_expr("?::VARCHAR")
    assert con.execute(f"SELECT {expr}", [raw]).fetchone()[0] == got


def test_crlf_and_lone_cr_become_lf(spark):
    assert _one(spark, "a\r\nb\rc") == "a\nb\nc"


def test_paragraph_structure_survives(spark):
    # the \n\n separator the dedup family splits on MUST survive
    assert _one(spark, "para one\n\npara two") == "para one\n\npara two"


def test_unicode_spaces_unify_and_collapse(spark):
    assert _one(spark, "a b c　d  e") == "a b c d e"


def test_lines_trimmed(spark):
    assert _one(spark, "  a  \n\tb\t") == "a\nb"


def test_null_passthrough(spark):
    assert _one(spark, None) is None


def test_form_none_is_pure_column(spark):
    # no Arrow stage: the plan must not contain any Python evaluation
    df = spark.createDataFrame([("x​y",)], "t string")
    out = df.select(norm_text_col(F.col("t"), form=None).alias("o"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert out.first()["o"] == "xy"


def test_nfkc_compatibility_pin(spark):
    # NFKC folds the fi ligature; NFC must NOT
    assert _one(spark, "ﬁsh", form="NFKC") == "fish"
    assert _one(spark, "ﬁsh", form="NFC") == "ﬁsh"


def test_unknown_form_rejected(spark):
    with pytest.raises(ValueError, match="unknown unicode form"):
        _one(spark, "x", form="NFX")


def test_paragraph_dedup_composition_pin(spark):
    # THE prescribed pin (VERDICT r10 Next #1): an NFD / zero-width
    # twin of an NFC paragraph escapes paragraph_dedup on raw bytes
    # and IS deduped after normalize_text.
    from magicxml_spark.operators.curation import paragraph_dedup

    rows = [
        (1, "café is the best place"),          # NFC original
        (2, "café is the best place"),          # NFD twin
        (3, "café is the​ best place"),     # zero-width twin
        (4, "a genuinely different paragraph"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    raw = {
        r["doc_id"]: r["n_kept"]
        for r in paragraph_dedup(df, "doc_id", "text").collect()
    }
    assert raw == {1: 1, 2: 1, 3: 1, 4: 1}  # every twin escapes

    normed = normalize_text(df, "text")
    ded = {
        r["doc_id"]: r["n_kept"]
        for r in paragraph_dedup(normed, "doc_id", "text").collect()
    }
    assert ded == {1: 1, 2: 0, 3: 0, 4: 1}  # twins deduped, first wins


def test_cross_engine_fuzz(spark):
    # Seeded adversarial corpus: combining accents, zero-width chars,
    # unicode spaces, C0/C1 controls, CR/LF, CJK, Latin — both engines
    # must normalize every row identically (NFC: pandas/unicodedata vs
    # DuckDB/utf8proc, both UAX #15).
    import random

    import duckdb

    rng = random.Random(11)
    pools = [
        (0x0041, 0x007A), (0x00C0, 0x00FF), (0x0300, 0x036F),
        (0x200B, 0x200F), (0x2000, 0x200A), (0x00A0, 0x00A0),
        (0x0000, 0x001F), (0x007F, 0x009F), (0x4E00, 0x4E2F),
        (0x0020, 0x0020), (0x3000, 0x3000), (0xFB00, 0xFB06),
        (0x1E00, 0x1EFF), (0x0009, 0x000D),
    ]

    def rand_text():
        out = []
        for _ in range(rng.randint(0, 50)):
            lo, hi = rng.choice(pools)
            out.append(chr(rng.randint(lo, hi)))
        return "".join(out)

    rows = [(i, rand_text()) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in normalize_text(df, "text").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    expr = normalize_duckdb_expr("text")
    exp = {
        r[0]: r[1]
        for r in con.sql(f"SELECT doc_id, {expr} FROM docs").fetchall()
    }
    assert got == exp


def test_normalize_dedup_registered_composition(spark):
    # the driver-gate twin of the composition pin: the q_normalize_dedup
    # synth's four encoding variants are four DISTINCT fingerprints on
    # raw bytes and ONE fingerprint after normalization
    from magicxml_spark.operators.dedup import exact_dedup
    from magicxml_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["q_normalize_dedup"](spark, sf).collect()
    assert len(out) > 0
    full_groups = [r for r in out if r["n_dupes"] >= 4]
    assert len(full_groups) > 0  # twins collapse post-normalization
    for r in full_groups:
        assert r["keeper_id"] % 4 == 0  # min id = a v0 doc
    # raw-side control: without normalization every variant is distinct
    from pyspark.sql import functions as F

    from magicxml_spark.tables import table

    d = F.col("doc_id")
    docs = table(spark, sf, "documents").select("doc_id", "text")
    src = docs.filter(d % 4 == 0).select(
        F.col("doc_id").alias("src_id"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 100).alias(
            "base"
        ),
    )
    raw = (
        F.when(d % 4 == 0, F.concat(F.lit("caf\u00e9 "), F.col("base")))
        .when(d % 4 == 1, F.concat(F.lit("cafe\u0301 "), F.col("base")))
        .when(
            d % 4 == 2,
            F.concat(F.lit("caf\u00e9\u200b "), F.col("base")),
        )
        .otherwise(F.concat(F.lit("caf\u00e9\u00a0"), F.col("base")))
    )
    synth = (
        docs.withColumn("src_id", d - (d % 4))
        .join(F.broadcast(src), "src_id")
        .select("doc_id", raw.alias("raw"))
    )
    raw_side = exact_dedup(synth, "doc_id", "raw").collect()
    # exact invariant: a raw fingerprint class is (base-class, variant)
    # while a normalized class is (base-class) alone — duplicate BASE
    # texts across groups merge identically on both sides, so the raw
    # side always holds exactly 4x the classes (every variant escapes
    # raw dedup, every variant collapses after normalization)
    assert len(raw_side) == 4 * len(out)
    assert sum(r["n_dupes"] for r in raw_side) == sum(
        r["n_dupes"] for r in out
    )
