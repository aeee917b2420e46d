"""Semantic pins for operators/langid.py — hand-labeled fixtures in
every supported script (engine-vs-engine parity for q_lang_id lives in
test_oracle_parity; these pins are the defense against a SHARED
misconception, per the repo's verification doctrine)."""

from __future__ import annotations

from magicxml_spark.operators.langid import lang_id

# (text, expected script, expected lang) — one per supported language
# (17 languages across 11 script classes).
# The Russian fixture uses the 1C/YML product-feed vocabulary the
# reference engine parses (/root/reference/main.py:328-455 — its
# Cyrillic dialect is the anchor VERDICT r9 prescribes).
PINS = [
    ("The cat sat on the mat and it was happy to be at home.", "latin", "en"),
    ("Der Hund und die Katze sind nicht mit dem Mann im Haus.", "latin", "de"),
    ("Le chat est dans la maison avec les enfants et le chien.", "latin", "fr"),
    ("El perro y los gatos es que una para por con su casa.", "latin", "es"),
    ("Il gatto è un animale che non sono per la casa di lui.", "latin", "it"),
    ("O cachorro e os gatos que um uma para não com do mais.", "latin", "pt"),
    ("De hond en het een van ik te dat niet met huis.", "latin", "nl"),
    (
        "Наименование товара и цена не указаны на складе, это остаток",
        "cyrillic",
        "ru",
    ),
    ("Це не так і він був у домі за рікою але що з того", "cyrillic", "uk"),
    ("这是一个中文句子没有空格也没有假名", "han", "zh"),
    ("これは日本語の文です漢字も含みます", "hiragana", "ja"),
    ("이것은 한국어 문장입니다", "hangul", "ko"),
    ("هذه جملة عربية قصيرة", "arabic", "ar"),
    ("זהו משפט בעברית לבדיקה", "hebrew", "he"),
    ("นี่คือประโยคภาษาไทย", "thai", "th"),
    ("αυτή είναι μια ελληνική πρόταση", "greek", "el"),
    ("यह एक हिंदी वाक्य है", "devanagari", "hi"),
    ("12345 !!! ???", "none", "und"),
    ("", "none", "und"),
    (None, "none", "und"),
    ("zxqv wfgh plmk", "latin", "und"),  # letters, zero function words
]


def _run(spark, rows):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    return {r["doc_id"]: r for r in lang_id(df).collect()}


def test_lang_id_hand_labeled_fixtures(spark):
    got = _run(spark, [t for t, _, _ in PINS])
    for i, (text, script, lang) in enumerate(PINS):
        r = got[i]
        assert (r["script"], r["lang"]) == (script, lang), (
            f"fixture {i!r} ({text!r}): got ({r['script']}, {r['lang']}), "
            f"want ({script}, {lang})"
        )
    # evidence counters are consistent: voted scripts report hits,
    # script-determined ones report the script letter count
    # (index-free lookups: the PINS list grows)
    by_text = {PINS[i][0]: got[i] for i in range(len(PINS))}
    en = by_text[PINS[0][0]]
    assert en["hits"] > 0 and en["n_letters"] > en["hits"]
    ko = by_text["이것은 한국어 문장입니다"]
    assert ko["hits"] == ko["n_letters"]  # hangul: all letters
    digits = by_text["12345 !!! ???"]
    assert digits["hits"] == 0 and digits["n_letters"] == 0


def test_lang_id_tie_breaks_are_deterministic(spark):
    got = _run(
        spark,
        [
            # one de word + one fr word -> tie -> lexicographically
            # smaller code wins (the pinned (score desc, lang asc) rule)
            "der le",
            # cyrillic with no profile words -> ru prior
            "привет мир",
            # latin-dominant text with a cyrillic tail stays en
            "the quick brown fox was here and it is fine Цена",
            # 2 han + 2 hiragana: a script-count TIE resolves to the
            # first-listed script (han), and kana presence still says ja
            "漢字かな",
        ],
    )
    assert (got[0]["lang"], got[0]["hits"]) == ("de", 1)
    assert (got[1]["script"], got[1]["lang"], got[1]["hits"]) == (
        "cyrillic",
        "ru",
        0,
    )
    assert (got[2]["script"], got[2]["lang"]) == ("latin", "en")
    assert (got[3]["script"], got[3]["lang"]) == ("han", "ja")


def test_with_lang_rejects_colliding_columns(spark):
    import pytest
    from magicxml_spark.operators.langid import with_lang
    from magicxml_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    with pytest.raises(ValueError, match="collide"):
        with_lang(docs)  # documents carries a stored `lang` label
    out = with_lang(docs.drop("lang"))
    assert "lang" in out.columns and "doc_id" in out.columns
    # internal temps are reserved too: an input named _lid_toks would
    # make stage 2's column reference ambiguous (ADVICE r10)
    import pyspark.sql.functions as F

    poisoned = docs.drop("lang").withColumn("_lid_toks", F.lit(1))
    with pytest.raises(ValueError, match="_lid_"):
        with_lang(poisoned)


def test_lang_id_cross_engine_fuzz_adversarial_unicode(spark):
    # Seeded fuzz over codepoints the fixed fixtures never reach —
    # emoji, Hebrew (tracked since the he/th commit; the 0x05D0 pool
    # now exercises a tracked block), Armenian (genuinely untracked),
    # Unicode Lm modifier letters, Latin Extended Additional, general
    # punctuation — the surface where Java-regex and RE2 \\p{L} /
    # char-range semantics could drift. Both engines must agree on
    # every row.
    import random

    import duckdb

    from magicxml_spark.operators.langid import lang_id, langid_duckdb_ctes

    rng = random.Random(2024)
    pools = [
        (0x0041, 0x007A), (0x00C0, 0x00FF), (0x0100, 0x017F),
        (0x0400, 0x04FF), (0x0370, 0x03FF), (0x0600, 0x06FF),
        (0x0900, 0x097F), (0x4E00, 0x4FFF), (0x3041, 0x309F),
        (0x30A1, 0x30FF), (0xAC00, 0xAD00), (0x1F600, 0x1F64F),
        (0x2000, 0x206F), (0x0030, 0x0039), (0x0020, 0x0020),
        (0x02B0, 0x02FF), (0x1E00, 0x1EFF), (0x05D0, 0x05EA),
        (0x0531, 0x0556),  # Armenian uppercase — untracked script
    ]

    def rand_text():
        out = []
        for _ in range(rng.randint(0, 60)):
            lo, hi = rng.choice(pools)
            out.append(chr(rng.randint(lo, hi)))
            if rng.random() < 0.2:
                out.append(" ")
        return "".join(out)

    rows = [(i, rand_text()) for i in range(200)]
    words = ["the", "und", "le", "el", "и", "що", "van", "não", "più"]
    for i in range(200, 260):
        rows.append(
            (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 10)))
             + " " + rand_text())
        )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["script"], r["lang"], r["hits"], r["margin"], r["score"],
            r["n_letters"],
        )
        for r in lang_id(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    sql = (
        f"WITH {langid_duckdb_ctes('docs')} "
        "SELECT doc_id, script, lang, hits, margin, score, n_letters FROM lid"
    )
    exp = {
        r[0]: (r[1], r[2], r[3], r[4], r[5], r[6])
        for r in con.sql(sql).fetchall()
    }
    assert got == exp


def test_margin_score_semantics(spark):
    # Hand-computed confidence pins (VERDICT r10 "What's missing #4"):
    # margin = top-vs-runner-up evidence gap, score = margin/n_letters
    got = _run(
        spark,
        [
            # 3 en function words ("the" x2 + "of"), 0 for the runner-up
            "the size of the box",
            # one de + one fr word: tie -> margin 0, lang decided by
            # the lexicographic rule but carries ZERO confidence
            "der le",
            # pure hangul: script-determined, runner-up script count 0
            # -> margin == n_letters -> score 1.0
            "이것은한국어",
            # latin letters, zero function words: margin 0 score 0.0
            "zxqv wfgh plmk",
            # no letters at all
            "12345",
        ],
    )
    en = got[0]
    assert en["lang"] == "en" and en["margin"] == 3
    assert en["score"] == round(3 / en["n_letters"], 6)
    tie = got[1]
    assert tie["lang"] == "de" and tie["margin"] == 0 and tie["score"] == 0.0
    ko = got[2]
    assert ko["lang"] == "ko" and ko["margin"] == ko["n_letters"]
    assert ko["score"] == 1.0
    soup = got[3]
    assert soup["lang"] == "und" and soup["margin"] == 0
    none = got[4]
    assert none["margin"] == 0 and none["score"] == 0.0


def test_min_score_threshold_maps_to_und(spark):
    # The CCNet-class gate: sub-threshold rows become 'und' while the
    # evidence columns keep their values (auditable gate decisions)
    from magicxml_spark.operators.langid import lang_id, with_lang

    rows = [
        (0, "the cat sat on the mat and it was the best of the day"),
        (1, "der le"),           # margin 0 -> score 0 -> gated out
        (2, "이것은한국어"),        # score 1.0 -> survives any gate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {r["doc_id"]: r for r in lang_id(df).collect()}
    gated = {r["doc_id"]: r for r in with_lang(df, min_score=0.05).collect()}
    assert plain[1]["lang"] == "de" and gated[1]["lang"] == "und"
    assert gated[1]["lang_margin"] == plain[1]["margin"]  # evidence survives
    assert gated[0]["lang"] == "en" and gated[2]["lang"] == "ko"
    # the pinned GATE-DECISION DIFF: exactly doc 1 flips
    flips = {i for i in plain if plain[i]["lang"] != gated[i]["lang"]}
    assert flips == {1}


def test_min_score_cross_engine(spark):
    # thresholded oracle arm parity (min_score wired through the
    # generated CTEs)
    import duckdb

    from magicxml_spark.operators.langid import langid_duckdb_ctes, with_lang

    rows = [
        (0, "the cat sat on the mat and it was the best of the day"),
        (1, "der le"),
        (2, "привет мир"),
        (3, "이것은한국어"),
        (4, "zxqv wfgh plmk"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["lang"], r["lang_margin"], r["lang_score"])
        for r in with_lang(df, min_score=0.05).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    sql = (
        f"WITH {langid_duckdb_ctes('docs', min_score=0.05)} "
        "SELECT doc_id, lang, margin, score FROM lid"
    )
    exp = {r[0]: (r[1], r[2], r[3]) for r in con.sql(sql).fetchall()}
    assert got == exp


def test_lang_id_paragraphs_mixed_document(spark):
    # the mixed-document motivation: a Russian paragraph inside an
    # English page reads per-paragraph what the doc-level argmax hides
    from magicxml_spark.operators.langid import lang_id, lang_id_paragraphs

    mixed = (
        "The cat sat on the mat and it was the best of the days for "
        "all of the cats in the house and the garden and the yard "
        "where they like to sit in the sun for most of the day.\n\n"
        "Наименование товара и цена не указаны на складе это остаток\n\n"
        "And then the story of the house was told to all of them and "
        "they were happy to hear it from the start to the end."
    )
    df = spark.createDataFrame([(1, mixed)], "doc_id long, text string")
    doc = lang_id(df).first()
    assert doc["lang"] == "en"  # doc-level majority hides the quote
    paras = {
        r["pos"]: (r["lang"], r["script"])
        for r in lang_id_paragraphs(df).collect()
    }
    assert paras[0] == ("en", "latin")
    assert paras[1] == ("ru", "cyrillic")
    assert paras[2] == ("en", "latin")
