"""Training-data pipeline queries: as-of join, PII scrubbing,
repetition quality rules, eval-set contamination, deterministic
sampling/splitting.

These extend the LLM-pipeline operator family (BASELINE.json north
star) beyond dedup/similarity/text-profile: the remaining operations a
100 TB curation pipeline runs between raw crawl and training shards.
Every query here is DuckDB-oracle-checked — the PII query deliberately
injects synthetic PII (derived from doc_id, identically in both
engines) so the regex semantics are exercised on non-trivial counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magicxml_spark.operators.asof import asof_join_backward
from magicxml_spark.operators.dedup import contamination_check
from magicxml_spark.operators.sampling import hash_split, stratified_sample
from magicxml_spark.operators.text import pii_counts, redact_pii, repetition_profile
from magicxml_spark.plans.gating import gate_on_computed
from magicxml_spark.queries import query
from magicxml_spark.queries.analytics import _WORDS_SQL
from magicxml_spark.tables import table


# --- As-of join: latest order at-or-before each event -----------------------
# Right side is deduped to one row per (custkey, orderdate) first so
# ties are impossible by construction — DuckDB's ASOF JOIN and the
# union+window formulation then provably agree.
@query(
    "q_asof_join",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS last_order_key,
             round(max_by(o_totalprice, o_orderkey), 2) AS last_order_price
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS last_order_date,
           o.last_order_key, o.last_order_price
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("last_order_key"),
            F.round(F.max_by("o_totalprice", "o_orderkey"), 2).alias(
                "last_order_price"
            ),
        )
    )
    joined = asof_join_backward(
        events,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["last_order_key", "last_order_price", "o_orderdate"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("last_order_date"),
        "last_order_key",
        "last_order_price",
    )


# --- PII scrub profile ------------------------------------------------------
# documents.text is synthetic word salad with no real PII, so the query
# appends deterministic doc_id-derived PII in BOTH engines: counts and
# redacted sizes are then non-trivial and must agree exactly.
_PII_AUG_SQL = """
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         || ' tel +1 202 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' ip 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
         || ' ref https://ex.org/' || CAST(doc_id AS VARCHAR)
"""


def _pii_aug_spark() -> F.Column:
    d = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), d, F.lit("@example.com"),
        F.lit(" tel +1 202 555 "),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 200).cast("string"), F.lit(".7"),
        F.lit(" ref https://ex.org/"), d,
    )


@query(
    "q_pii_scrub",
    oracle=f"""
    WITH aug AS (SELECT source, {_PII_AUG_SQL} AS t FROM documents),
    c AS (SELECT source,
            len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
            len(regexp_extract_all(t, 'https?://[^\\s]+')) AS n_url,
            len(regexp_extract_all(t, '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b')) AS n_ipv4,
            len(regexp_extract_all(t, '\\+?[0-9][0-9 ().-]{{7,}}[0-9]')) AS n_phone,
            length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[PII]', 'g'),
              'https?://[^\\s]+', '[PII]', 'g'),
              '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b', '[PII]', 'g'),
              '\\+?[0-9][0-9 ().-]{{7,}}[0-9]', '[PII]', 'g')) AS redacted_len
          FROM aug)
    SELECT source,
           CAST(sum(n_email) AS BIGINT) AS n_email,
           CAST(sum(n_url) AS BIGINT) AS n_url,
           CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
           CAST(sum(n_phone) AS BIGINT) AS n_phone,
           CAST(sum(redacted_len) AS BIGINT) AS redacted_chars
    FROM c GROUP BY source ORDER BY source
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "source", _pii_aug_spark().alias("t")
    )
    counts = pii_counts(F.col("t"))
    per_doc = docs.select(
        "source",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        F.length(redact_pii(F.col("t"))).alias("redacted_len"),
    )
    return per_doc.groupBy("source").agg(
        F.sum("n_email").alias("n_email"),
        F.sum("n_url").alias("n_url"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_phone").alias("n_phone"),
        F.sum("redacted_len").alias("redacted_chars"),
    )


# --- Luhn-validated card-number PII ------------------------------------------
# Card-number scrubbing needs more than a digit-run regex: most 13-19
# digit runs are ids/timestamps, and redacting them shreds the corpus.
# The Luhn checksum separates the two. The query plants one synthetic
# 16-digit number per document (doc_id-derived, IDENTICALLY in both
# engines); its last digit is doc_id % 10, so ~10% of documents carry
# a Luhn-VALID number and both engines must agree per-document, not
# just in aggregate. Both sides implement Luhn independently (Spark:
# zip_with position binding; DuckDB: list_transform over the reversed
# string) — two implementations of ISO/IEC 7812 agreeing on 500 docs.
_CARD_AUG_SQL = """
    text || ' order ref ' || lpad(CAST((doc_id * 37) % 1000000000000000 AS VARCHAR), 15, '0')
         || CAST(doc_id % 10 AS VARCHAR) || ' end'
"""


def _card_aug_spark() -> F.Column:
    return F.concat(
        F.col("text"),
        F.lit(" order ref "),
        F.lpad(((F.col("doc_id") * 37) % F.lit(10**15)).cast("string"), 15, "0"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(" end"),
    )


@query(
    "q_pii_luhn",
    oracle=f"""
    WITH aug AS (SELECT source, {_CARD_AUG_SQL} AS t FROM documents),
    c AS (SELECT source,
            regexp_extract_all(t, '\\b[0-9]{{13,19}}\\b') AS cands
          FROM aug),
    v AS (SELECT source, len(cands) AS n_cand,
            len(list_filter(cands, s ->
              len(s) >= 13 AND
              list_sum(list_transform(range(1, len(s) + 1), i ->
                CASE WHEN i % 2 = 0
                     THEN CASE WHEN CAST(substr(reverse(s), i, 1) AS INTEGER) < 5
                               THEN CAST(substr(reverse(s), i, 1) AS INTEGER) * 2
                               ELSE CAST(substr(reverse(s), i, 1) AS INTEGER) * 2 - 9
                          END
                     ELSE CAST(substr(reverse(s), i, 1) AS INTEGER)
                END)) % 10 = 0)) AS n_valid
          FROM c)
    SELECT source,
           CAST(sum(n_cand) AS BIGINT) AS card_candidates,
           CAST(sum(n_valid) AS BIGINT) AS cards_valid
    FROM v GROUP BY source ORDER BY source
    """,
)
def q_pii_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.text import card_candidates, card_counts_from

    docs = table(spark, sf_dir, "documents").select(
        "source", _card_aug_spark().alias("t")
    )
    # candidates materialized first: one regex scan, two counts
    with_cands = docs.select("source", card_candidates(F.col("t")).alias("_cands"))
    counts = card_counts_from(F.col("_cands"))
    per_doc = with_cands.select(
        "source", *[c.alias(name) for name, c in counts.items()]
    )
    return per_doc.groupBy("source").agg(
        F.sum("card_candidates").alias("card_candidates"),
        F.sum("cards_valid").alias("cards_valid"),
    )


# --- Canonical-URL dedup ------------------------------------------------------
# Crawled corpora carry one page under many URL spellings. The synthetic
# URL (doc_id-derived, identical in both engines) exercises every
# canonicalization rule: case-variant scheme+host, explicit default
# port, trailing slash, tracking params, unsorted params, fragment.
# Group key = doc_id % 100 across the varied spellings, so the dedup
# genuinely merges different strings. The DuckDB oracle canonicalizes
# INDEPENDENTLY with regex/list functions (operators/urls.py uses
# parse_url + array ops) — two implementations of the documented
# contract must produce identical groups.
_URL_AUG_SQL = """
    (CASE WHEN doc_id % 3 = 0
          THEN 'HTTPS://CDN' || CAST(doc_id % 4 AS VARCHAR) || '.ExAmple.COM:443'
          ELSE 'https://cdn' || CAST(doc_id % 4 AS VARCHAR) || '.example.com' END)
    || '/art/' || CAST(doc_id % 25 AS VARCHAR)
    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
    || '?b=' || CAST(doc_id % 10 AS VARCHAR)
    || '&utm_source=feed&a=' || CAST(doc_id % 5 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
"""


def _url_aug_spark() -> F.Column:
    d = F.col("doc_id")
    host = F.when(
        d % 3 == 0,
        F.concat(
            F.lit("HTTPS://CDN"), (d % 4).cast("string"), F.lit(".ExAmple.COM:443")
        ),
    ).otherwise(
        F.concat(F.lit("https://cdn"), (d % 4).cast("string"), F.lit(".example.com"))
    )
    return F.concat(
        host,
        F.lit("/art/"),
        (d % 25).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?b="),
        (d % 10).cast("string"),
        F.lit("&utm_source=feed&a="),
        (d % 5).cast("string"),
        F.when(d % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


@query(
    "q_url_dedup",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_AUG_SQL} AS url FROM documents),
    c AS (SELECT doc_id,
            lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
            lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS auth,
            regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1),
                           '/+$', '') AS path0,
            regexp_extract(url, '\\?([^#]*)', 1) AS q
          FROM u),
    n AS (SELECT doc_id,
            scheme || '://' ||
            (CASE WHEN scheme = 'https' AND auth LIKE '%:443' THEN substr(auth, 1, len(auth) - 4)
                  WHEN scheme = 'http'  AND auth LIKE '%:80'  THEN substr(auth, 1, len(auth) - 3)
                  ELSE auth END) ||
            (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
            (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END)
              AS canonical_url
          FROM (SELECT *, list_sort(list_filter(string_split(q, '&'), x ->
                  x <> '' AND NOT starts_with(x, 'utm_')
                  AND NOT list_contains(['fbclid', 'gclid', 'ref'],
                                        string_split(x, '=')[1]))) AS kept
                FROM c))
    SELECT canonical_url,
           count(*) AS n_docs,
           min(doc_id) AS keeper_id
    FROM n GROUP BY canonical_url
    """,
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.urls import dedup_by_canonical_url

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _url_aug_spark().alias("url")
    )
    return dedup_by_canonical_url(docs, "doc_id", "url")


# --- Gopher-style repetition metrics ---------------------------------------
@query(
    "q_repetition_profile",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    base AS (SELECT doc_id, w FROM w WHERE len(w) >= 2),
    bgs AS (SELECT doc_id, len(w) AS n_words,
                   len(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS n_bg,
                   len(list_distinct(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS n_bg_uniq
            FROM base),
    tok AS (SELECT doc_id, unnest(w) AS word FROM base),
    cnt AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
    ws AS (SELECT doc_id, sum(c) AS total, max(c) AS top, count(*) AS uniq
           FROM cnt GROUP BY 1)
    SELECT b.doc_id, b.n_words,
           round(ws.uniq / ws.total, 4) AS uniq_word_ratio,
           round(ws.top / ws.total, 4) AS top_word_share,
           round(1 - b.n_bg_uniq / CAST(b.n_bg AS DOUBLE), 4) AS dup_bigram_share
    FROM bgs b JOIN ws USING (doc_id)
    """,
)
def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    prof = repetition_profile(docs)
    return prof.withColumn("n_words", F.col("n_words").cast("long"))


# --- Eval-set contamination (train/test n-gram overlap) ---------------------
@query(
    "q_contamination",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                                           i -> array_to_string(w[i:i+2], ' ')) END) AS grams
           FROM w WHERE len(w) > 0),
    g AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
    ev AS (SELECT doc_id AS eval_doc_id, gram FROM g WHERE doc_id % 97 = 0),
    corp AS (SELECT doc_id AS corpus_doc_id, gram FROM g WHERE doc_id % 97 <> 0)
    SELECT eval_doc_id,
           count(DISTINCT corpus_doc_id) AS n_contaminating_docs,
           count(DISTINCT gram) AS n_shared_ngrams,
           count(*) AS n_shared_pairs
    FROM ev JOIN corp USING (gram) GROUP BY 1
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_check(corpus, eval_set, "doc_id", "text", k=3)


# --- Bloom-prefiltered contamination probe -----------------------------------
# The 100 TB shape of q_contamination: build a Bloom filter over the
# eval set's n-grams (bit table <= 65536 rows -> broadcast), probe every
# corpus gram, and only maybe-members would pay the exact join. The
# gate query scores the prefilter itself: per corpus doc, how many
# grams the filter flags vs how many truly overlap (false positives
# >= 0, false negatives impossible — both visible in the output).
def _bloom_oracle() -> str:
    from magicxml_spark.operators.sketches import BLOOM_K, bloom_bit_sql

    bit_cases = " ".join(
        f"WHEN {j} THEN {bloom_bit_sql(j, 'gram')}" for j in range(BLOOM_K)
    )
    return f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                                           i -> array_to_string(w[i:i+2], ' ')) END) AS grams
           FROM w WHERE len(w) > 0),
    g AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    bits AS (SELECT DISTINCT CASE j.j {bit_cases} END AS bit
             FROM ev, (SELECT unnest(range(0, {BLOOM_K})) AS j) j),
    corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
    probes AS (SELECT doc_id, gram, CASE j.j {bit_cases} END AS bit
               FROM corp, (SELECT unnest(range(0, {BLOOM_K})) AS j) j),
    maybe AS (SELECT doc_id, gram FROM probes JOIN bits USING (bit)
              GROUP BY 1, 2 HAVING count(*) = {BLOOM_K}),
    agg AS (SELECT c.doc_id,
                   count(*) AS n_grams,
                   CAST(sum(CASE WHEN m.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bloom_maybe,
                   CAST(sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_exact_shared
            FROM corp c
            LEFT JOIN maybe m ON m.doc_id = c.doc_id AND m.gram = c.gram
            LEFT JOIN ev e ON e.gram = c.gram
            GROUP BY 1)
    SELECT doc_id, n_grams, n_bloom_maybe, n_exact_shared,
           n_bloom_maybe - n_exact_shared AS n_false_positive
    FROM agg
    """


@query("q_bloom_prefilter", oracle=_bloom_oracle())
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r8: the probe is the COMPILED production shape (bitmap literal,
    # pure projection over the fact side — zero probe-side joins or
    # explodes); the one remaining join is the exact ground-truth
    # check, which exists only because this gate SCORES the filter's
    # false positives. The oracle is unchanged: same bits, same
    # algebra, different physical strategy.
    from magicxml_spark.operators.dedup import word_shingles
    from magicxml_spark.operators.sketches import (
        bloom_bitmap_hex,
        bloom_bits_table,
        bloom_probe_compiled,
    )

    docs = table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("gram")
    )
    ev = g.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    corp = g.filter(F.col("doc_id") % 97 != 0)
    hexmap = bloom_bitmap_hex(bloom_bits_table(ev, "gram"))
    return (
        bloom_probe_compiled(corp, "gram", hexmap)
        .join(ev.withColumn("_hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("bloom_maybe").cast("int")).alias("n_bloom_maybe"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_exact_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_bloom_maybe",
            "n_exact_shared",
            (F.col("n_bloom_maybe") - F.col("n_exact_shared")).alias(
                "n_false_positive"
            ),
        )
    )


# --- Curation v2: the round-4 second-pass operators composed -----------------
# winnow near-dup removal (local-overlap pairs, containment >= 0.5
# drops the larger id) -> Bloom-PREFILTERED exact decontamination (the
# filter has no false negatives, so the prefiltered exact join returns
# the identical dirty set — the oracle states the plain exact join and
# the gate proves the optimized physical strategy changes nothing) ->
# token-share mixture weights over the survivors.
def _curation_v2_oracle() -> str:
    from magicxml_spark.queries.analytics import _WINNOW_FPS_SQL

    return f"""
    WITH {_WINNOW_FPS_SQL},
    long AS (SELECT doc_id, len(fps) AS n, unnest(fps) AS fp FROM f),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
                 count(*) AS n_shared
          FROM long a JOIN long b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING count(*) >= 3),
    dropped AS (SELECT DISTINCT id_b AS doc_id FROM p
                WHERE round(CAST(n_shared AS DOUBLE) / least(na, nb), 6) >= 0.5),
    surv AS (SELECT d.doc_id, d.source, d.text FROM documents d
             WHERE d.doc_id % 97 <> 0
               AND d.doc_id NOT IN (SELECT doc_id FROM dropped)),
    dsh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                                           i -> array_to_string(w[i:i+2], ' ')) END) AS grams
           FROM w WHERE len(w) > 0),
    dg AS (SELECT doc_id, unnest(grams) AS gram FROM dsh),
    ev AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
    dirty AS (SELECT dg.doc_id FROM dg JOIN ev USING (gram)
              WHERE dg.doc_id IN (SELECT doc_id FROM surv)
              GROUP BY dg.doc_id HAVING count(*) >= 2),
    clean AS (SELECT s.* FROM surv s
              WHERE s.doc_id NOT IN (SELECT doc_id FROM dirty)),
    t AS (SELECT source AS grp,
                 CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS nt
          FROM clean),
    agg AS (SELECT grp, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
            FROM t GROUP BY grp)
    SELECT grp AS source, n_docs, n_tokens,
           round(CASE WHEN sum(n_tokens) OVER () > 0
                      THEN CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()
                      ELSE 0.0 END, 6) AS actual_share,
           round(1.0 / count(*) OVER (), 6) AS target_share,
           round(CASE WHEN n_tokens > 0
                      THEN (1.0 / count(*) OVER ())
                           / (CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ())
                      ELSE 0.0 END, 6) AS weight
    FROM agg
    """


@query("q_curation_v2", oracle=_curation_v2_oracle())
def q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import winnow_pairs, word_shingles
    from magicxml_spark.operators.sampling import mixture_weights
    from magicxml_spark.operators.sketches import (
        bloom_bitmap_hex,
        bloom_bits_table,
        bloom_probe_compiled,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = winnow_pairs(
        docs, "doc_id", "text", min_shared=3, max_bucket_size=None
    )  # oracle = exact all-pairs semantics
    dropped = (
        pairs.filter(F.col("containment") >= 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    surv = docs.filter(F.col("doc_id") % 97 != 0).join(dropped, "doc_id", "left_anti")
    g = docs.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("gram"))
    ev = g.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    corp_g = g.join(surv.select("doc_id"), "doc_id")
    # Bloom prefilter (compiled bitmap projection — the production
    # shape), then the exact verify join on the maybe-members only
    hexmap = bloom_bitmap_hex(bloom_bits_table(ev, "gram"))
    maybe = bloom_probe_compiled(corp_g, "gram", hexmap).filter("bloom_maybe")
    dirty = (
        maybe.join(ev, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("doc_id")
    )
    clean = surv.join(dirty, "doc_id", "left_anti")
    return mixture_weights(clean, "source", "text")


# --- Decontamination: the enforcement half of q_contamination ----------------
# Same eval split (doc_id % 97); corpus docs sharing >= 2 distinct
# 3-grams with ANY eval doc are removed before shipping.
@query(
    "q_decontaminate",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 1),
                                           i -> array_to_string(w[i:i+2], ' ')) END) AS grams
           FROM w WHERE len(w) > 0),
    g AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    flagged AS (SELECT g.doc_id FROM g JOIN ev USING (gram)
                WHERE g.doc_id % 97 <> 0
                GROUP BY g.doc_id HAVING count(DISTINCT gram) >= 2)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import decontaminate

    docs = table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(
        corpus, eval_set, "doc_id", "text", k=3, min_shared_ngrams=2
    ).select("doc_id", "lang", "source", "n_chars")


# --- Incremental (re-ingest) dedup vs a prior corpus snapshot ----------------
# The corpus is deduped once; each re-ingest classifies only its delta
# against the stored fingerprint/signature snapshot. Split here is
# doc_id % 10: 8/10 prior corpus, 2/10 new batch — both engines derive
# the snapshot inline from the same rows.
@query(
    "q_incremental_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
               FROM documents),
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id, list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                         i -> array_to_string(w[i:i+2], ' ')) AS sh
           FROM w WHERE len(w) > 0),
    sig AS (SELECT doc_id, b.band,
                   list_aggregate(list_transform(sh, s -> substr(md5(s), 1 + b.band * 8, 8)),
                                  'min') AS signature
            FROM sh, (SELECT unnest(range(0, 4)) AS band) b),
    prior_fp AS (SELECT DISTINCT fp FROM d WHERE doc_id % 10 < 8),
    prior_sig AS (SELECT DISTINCT band, signature FROM sig WHERE doc_id % 10 < 8),
    ranked AS (SELECT doc_id, fp,
                      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
               FROM d WHERE doc_id % 10 >= 8),
    near AS (SELECT DISTINCT s.doc_id FROM sig s
             JOIN prior_sig p USING (band, signature)
             WHERE s.doc_id % 10 >= 8)
    SELECT r.doc_id,
           CAST(CASE WHEN pf.fp IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS exact_dup_prior,
           CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS near_dup_prior,
           CAST(CASE WHEN r.rn > 1 THEN 1 ELSE 0 END AS INTEGER) AS exact_dup_batch,
           CAST(CASE WHEN pf.fp IS NULL AND n.doc_id IS NULL AND r.rn = 1
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM ranked r
    LEFT JOIN prior_fp pf ON r.fp = pf.fp
    LEFT JOIN near n ON r.doc_id = n.doc_id
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import incremental_dedup

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    return incremental_dedup(batch, prior, "doc_id", "text", n_bands=4, shingle_k=3)


# --- Language quota sample ---------------------------------------------------
# Per-language caps (cap the head language, keep the long tail whole) —
# the corpus-mix knob of a multilingual training set.
@query(
    "q_quota_sample",
    oracle="""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS sample_rank
      FROM documents)
    WHERE sample_rank <= (CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 10 ELSE 8 END)
    """,
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sampling import quota_sample

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = quota_sample(docs, "lang", "doc_id", {"en": 25, "de": 10}, default_quota=8)
    return out.withColumn("sample_rank", F.col("sample_rank").cast("long"))


# --- Deterministic stratified sample ----------------------------------------
@query(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source, sample_rank FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
      FROM documents) WHERE sample_rank <= 5
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = stratified_sample(docs, ["lang", "source"], "doc_id", 5)
    return out.withColumn("sample_rank", F.col("sample_rank").cast("long"))


# --- Source-mixture weights (token-share corpus balancing) -------------------
@query(
    "q_mixture_weights",
    oracle=f"""
    WITH t AS (SELECT source AS grp, CAST(len({_WORDS_SQL}) AS BIGINT) AS nt
               FROM documents),
    g AS (SELECT grp, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
          FROM t GROUP BY grp)
    SELECT grp AS source, n_docs, n_tokens,
           round(CASE WHEN sum(n_tokens) OVER () > 0
                      THEN CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()
                      ELSE 0.0 END, 6) AS actual_share,
           round(1.0 / count(*) OVER (), 6) AS target_share,
           round(CASE WHEN n_tokens > 0
                      THEN (1.0 / count(*) OVER ())
                           / (CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ())
                      ELSE 0.0 END, 6) AS weight
    FROM g
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sampling import mixture_weights

    return mixture_weights(table(spark, sf_dir, "documents"), "source", "text")


# --- Deterministic train/val/test split -------------------------------------
@query(
    "q_hash_split",
    oracle="""
    SELECT split, lang, count(*) AS n FROM (
      SELECT lang,
             CASE WHEN u < 0.8 THEN 'train'
                  WHEN u < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     / 4294967296.0 AS u
            FROM documents))
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    split = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return split.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n"))


# --- Semi-structured JSON props ---------------------------------------------
# events.props carries a JSON payload; extraction stays JVM-side
# (get_json_object — no UDF) and pushes only (event_type, k) into the
# aggregate. At 100 TB prefer from_json with an explicit schema so the
# parse happens once per row into a struct (and malformed rows are
# observable); get_json_object re-parses per path.
@query(
    "q_json_props",
    oracle="""
    SELECT event_type,
           count(k) AS n_with_k,
           round(avg(k), 2) AS avg_k,
           max(k) AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract(props, '$.k') AS DOUBLE) AS k
          FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.from_json("props", "k double")["k"].alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.round(F.avg("k"), 2).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


# --- Trailing time-range moving aggregate -----------------------------------
# RANGE frame on epoch seconds: both engines order by the truncated
# epoch so the frame boundary is identical (Spark's rangeBetween needs
# a numeric ordering key; fractional seconds are truncated identically
# on both sides). The sum runs in integer CENTS (value is exact
# 2-decimal data, so value*100 is integral after a decimal(18,2)
# round-trip): integer accumulation is order-independent AND both
# engines emit the identical output type, BIGINT — a decimal sum widens
# to DECIMAL(38,2) in DuckDB vs decimal(28,2) in Spark, which a
# type-sensitive comparison (the driver's hash) flags even when the
# values are equal; a double sum differs in the last ulp with
# summation order.
@query(
    "q_moving_sum",
    oracle="""
    SELECT event_id,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w
                AS BIGINT) AS sum_1h_cents,
           count(*) OVER w AS n_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return ev.select(
        "event_id",
        F.sum(cents).over(w).alias("sum_1h_cents"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


# --- The full curation pipeline, composed ----------------------------------
# Everything above in ONE plan — what a real pre-training data job runs:
# exact-dedup keepers -> quality gate -> repetition gate ->
# decontamination against the eval split -> stratified per-(lang,source)
# cap. Each stage is the already-oracle-checked operator; the value of
# this query is proving the COMPOSITION stays correct and plannable
# (Catalyst fuses the projections; the explode/join stages pipeline).
@query(
    "q_curation_pipeline",
    oracle=f"""
    WITH prof AS (
      SELECT doc_id, lang, source, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             len(text) AS n_chars,
             len(text) - len(regexp_replace(text, '[\\.,;:!\\?"''()\\[\\]{{}}]', '', 'g'))
               AS n_punct,
             {_WORDS_SQL} AS toks
      FROM documents),
    keepers AS (SELECT fp, min(doc_id) AS keeper_id FROM prof GROUP BY fp),
    quality AS (
      SELECT p.doc_id, p.lang, p.source, p.toks,
             round(((CASE WHEN p.n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN p.n_chars = 0 OR CAST(p.n_punct AS DOUBLE) / p.n_chars <= 0.2
                    THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN len(p.toks) > 0
                     AND CAST(len(list_filter(p.toks,
                           t -> list_contains(['the','and','of','to','is','with'], t)))
                         AS DOUBLE) / len(p.toks) >= 0.01
                    THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
      FROM prof p JOIN keepers k ON p.fp = k.fp AND p.doc_id = k.keeper_id),
    rep AS (
      SELECT q.doc_id FROM quality q
      WHERE len(q.toks) >= 2
        AND round(1 - len(list_distinct(list_transform(range(1, len(q.toks)),
              i -> q.toks[i] || ' ' || q.toks[i+1]))) /
              CAST(len(q.toks) - 1 AS DOUBLE), 4) <= 0.2),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' ')) END)) AS gram
      FROM prof WHERE len(toks) > 0),
    dirty AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, gram FROM grams WHERE doc_id % 97 <> 0) c
      JOIN (SELECT gram FROM grams WHERE doc_id % 97 = 0) e USING (gram)),
    kept AS (
      SELECT q.doc_id, q.lang, q.source FROM quality q
      JOIN rep USING (doc_id)
      WHERE q.quality >= 0.6
        AND q.doc_id % 97 <> 0
        AND q.doc_id NOT IN (SELECT doc_id FROM dirty))
    SELECT doc_id, lang, source, sample_rank FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
      FROM kept) WHERE sample_rank <= 20
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import word_shingles
    from magicxml_spark.operators.text import quality_score

    from pyspark.sql import Window

    from magicxml_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")

    # One projection carries every per-doc gate input. The dedup keeper
    # is a row_number over fp (NOT an agg + self-join: a DataFrame
    # branch re-executes its whole subtree per consumer, and this query
    # consumes the gated set three times) and the repetition gate is a
    # pure bigram-array expression (no explode + join — only the
    # dup-bigram share is needed here, not the full repetition profile).
    t = tokens(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("_t") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("_t", i), F.element_at("_t", i + 1)
        ),
    )
    enriched = (
        docs.select(
            "doc_id", "lang", "source", "text",
            F.md5(
                F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
            ).alias("fp"),
            quality_score(F.col("text")).alias("quality"),
            t.alias("_t"),
        )
        .withColumn("_bg", bigrams)
        .withColumn(
            "dup_bg",
            F.round(
                1 - F.size(F.array_distinct("_bg")) / F.size("_bg").cast("double"), 4
            ),
        )
    )
    keeper_rank = Window.partitionBy("fp").orderBy("doc_id")
    gated = (
        enriched.withColumn("_rn", F.row_number().over(keeper_rank))
        .filter(
            (F.col("_rn") == 1)
            & (F.col("quality") >= 0.6)
            & (F.size("_t") >= 2)
            & (F.col("dup_bg") <= 0.2)
        )
        .select("doc_id", "lang", "source", "text")
    )

    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus_side = gated.filter(F.col("doc_id") % 97 != 0)
    ev_grams = eval_set.select(
        F.explode(word_shingles(F.col("text"), 3)).alias("gram")
    ).distinct()
    corp_grams = corpus_side.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("gram")
    )
    dirty = corp_grams.join(ev_grams, "gram").select("doc_id").distinct()
    clean = corpus_side.join(dirty, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )

    out = stratified_sample(clean, ["lang", "source"], "doc_id", 20)
    return out.withColumn("sample_rank", F.col("sample_rank").cast("long"))


# --- C4-style line-level dedup ----------------------------------------------
# documents.text is single-line word salad, so "lines" are synthesized
# as 3-word chunks IDENTICALLY in both engines (like the PII injection:
# the point is exercising the operator semantics on non-trivial data —
# 3-word chunks collide across docs at the same rate as 3-grams).
# Boilerplate = a line appearing in >= 2 distinct docs.
@query(
    "q_line_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    lines AS (
      SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(w) / 3.0) AS BIGINT) + 1),
                            i -> array_to_string(w[(i-1)*3+1 : (i-1)*3+3], ' ')) AS ls
      FROM w WHERE len(w) > 0),
    expl AS (SELECT doc_id, unnest(ls) AS line,
                    unnest(range(1, len(ls) + 1)) AS pos
             FROM lines),
    common AS (SELECT line FROM expl GROUP BY line
               HAVING count(DISTINCT doc_id) > 1),
    kept AS (SELECT e.* FROM expl e ANTI JOIN common c ON e.line = c.line),
    total AS (SELECT doc_id, count(*) AS n_lines FROM expl GROUP BY doc_id),
    rebuilt AS (SELECT doc_id, count(*) AS n_kept,
                       md5(string_agg(line, chr(10) ORDER BY pos)) AS dedup_fp
                FROM kept GROUP BY doc_id)
    SELECT t.doc_id, t.n_lines,
           coalesce(r.n_kept, 0) AS n_kept,
           coalesce(r.dedup_fp, md5('')) AS dedup_fp
    FROM total t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import dedup_lines
    from magicxml_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).filter(F.size("w") > 0)
    lines = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.ceil(F.size("w") / F.lit(3.0)).cast("int")),
                lambda i: F.array_join(F.slice("w", (i - 1) * 3 + 1, 3), " "),
            )
        ).alias("pos", "line"),
    )
    out = dedup_lines(lines, "doc_id", "line", "pos", max_doc_frequency=1)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5("text_dedup").alias("dedup_fp"),
    )


# --- Token-budget shard packing ---------------------------------------------
# The last step of a curation pipeline: write ~budget-token shards in a
# deterministic order. Shard id = floor(prefix_tokens / budget) over
# doc_id order — computed with the two-phase parallel prefix sum in
# pack_shards (a plain global window would be one sorted task).
@query(
    "q_token_shards",
    oracle=f"""
    WITH w AS (SELECT doc_id, len({_WORDS_SQL}) AS n_tokens FROM documents),
    pre AS (SELECT doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
            FROM w)
    SELECT CAST(floor(p / 2000.0) AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM pre GROUP BY 1 ORDER BY 1
    """,
)
def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sampling import pack_shards
    from magicxml_spark.operators.text import token_count

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_shards(docs, "doc_id", "n_tokens", budget=2000.0)
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


# --- Overlapping token-window chunking ---------------------------------------
# Context-length-bounded chunks with overlap: chunk i of a doc covers
# tokens [i*112, i*112+128) (stride = 128-16); the partial tail chunk
# is kept, empty docs emit nothing. Pure projection + explode — no
# shuffle (see operators/text.chunk_text).
@query(
    "q_chunk_text",
    # case-PRESERVING split (no lower()): chunk_text emits model input,
    # unlike the lowercasing _WORDS_SQL counting convention
    oracle="""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
               FROM documents),
    c AS (SELECT doc_id, w, len(w) AS n,
                 CASE WHEN len(w) = 0 THEN 0
                      ELSE greatest(1, CAST(ceil((len(w) - 16) / 112.0) AS INTEGER))
                 END AS nc
          FROM w)
    SELECT doc_id, CAST(u.i AS INTEGER) AS chunk_id,
           CAST(least(n - u.i * 112, 128) AS INTEGER) AS n_tokens,
           array_to_string(w[u.i * 112 + 1 : u.i * 112 + 128], ' ') AS chunk_text
    FROM c, unnest(range(0, nc)) AS u(i)
    """,
)
def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.text import chunk_text

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_text(docs, "doc_id", "text", chunk_tokens=128, overlap=16)
    return out.select(
        F.col("id").alias("doc_id"), "chunk_id", "n_tokens", "chunk_text"
    )


_SNAPSHOT_SCRATCH_ROOT: str | None = None


def _snapshot_scratch(name: str) -> str:
    """Scratch dir for snapshot-backed queries: tmpfs when present
    (same policy as the streaming checkpoint helper), unique per
    invocation — concurrent runs (pytest gate alongside the driver or
    bench) must not overwrite each other's files mid-scan, and a
    re-run within one process must not clobber files a previously
    returned (lazy) DataFrame may still scan. All invocations nest
    under one per-PROCESS root that an atexit hook removes, so
    repeated gate/bench runs cannot leak RAM-backed parquet past
    process exit (each dir is a few hundred KB of hash keys)."""
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    global _SNAPSHOT_SCRATCH_ROOT
    if _SNAPSHOT_SCRATCH_ROOT is None:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
        _SNAPSHOT_SCRATCH_ROOT = os.path.join(
            base, "mxs_snapshots", f"pid{os.getpid()}"
        )
        atexit.register(shutil.rmtree, _SNAPSHOT_SCRATCH_ROOT, ignore_errors=True)
    return os.path.join(_SNAPSHOT_SCRATCH_ROOT, f"{name}_{uuid.uuid4().hex[:8]}")


# --- IVF maintenance decision on the correctness gate -------------------------
# The append-only index lifecycle's planning step: index the corpus
# TWICE — deliberately under-celled (8 cells) and healthily celled
# (16 cells, above the sqrt-growth trigger at gate scale) — then ask
# the re-fit policy for its decision in dry-run mode on each. Every
# deterministic field — vector count, fitted cells, the sqrt-growth
# target, and the action — is SQL-derivable, and the oracle encodes
# the REAL trigger (target_cells >= 2 * n_cells_total), so a
# regression flipping maybe_refit_ivf_snapshot's decision either way
# turns the gate red: the 8-cell row must say 'refit' and the 16-cell
# row must say 'none' at sf0.01 (the triggered fit itself is covered
# by test_ivf_snapshot_refit_policy; balance_ratio depends on the
# KMeans assignment and is deliberately not emitted here).
@query(
    "q_ivf_refit_plan",
    oracle="""
    WITH cfg AS (SELECT unnest([8, 16]) AS n_cells_total),
    t AS (SELECT n_vectors, n_cells_total,
                 GREATEST(16, LEAST(32768,
                   CAST(FLOOR(SQRT(n_vectors)) AS BIGINT))) AS target_cells
          FROM (SELECT count(*) AS n_vectors FROM embeddings), cfg)
    SELECT n_vectors,
           CAST(n_cells_total AS INTEGER) AS n_cells_total,
           CAST(target_cells AS BIGINT) AS target_cells,
           CASE WHEN target_cells >= 2 * n_cells_total
                THEN 'refit' ELSE 'none' END AS action
    FROM t
    """,
)
def q_ivf_refit_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.similarity import (
        maybe_refit_ivf_snapshot,
        write_ivf_snapshot,
    )

    emb = table(spark, sf_dir, "embeddings")
    rows = []
    for n_cells in (8, 16):
        snap = _snapshot_scratch(f"ivf_plan{n_cells}")
        write_ivf_snapshot(emb, snap, n_cells=n_cells)
        out = maybe_refit_ivf_snapshot(
            spark, snap, max_balance_ratio=float("inf")
        )
        rows.append(
            (
                int(out["n_vectors"]),
                int(out["n_cells_total"]),
                int(out["target_cells"]),
                out["action"],
            )
        )
    return spark.createDataFrame(
        rows,
        "n_vectors bigint, n_cells_total int, target_cells bigint, action string",
    )


# --- PRODUCTION re-ingest path on the correctness gate ------------------------
# Same classification contract as q_incremental_dedup (identical
# oracle), but the Spark side exercises the real lifecycle: write the
# prior corpus's snapshot to parquet, then classify the delta AGAINST
# THE FILES — proving write_dedup_snapshot + the snapshot reader
# hash-match the inline derivation end-to-end.
@query(
    "q_snapshot_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
               FROM documents),
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id, list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                         i -> array_to_string(w[i:i+2], ' ')) AS sh
           FROM w WHERE len(w) > 0),
    sig AS (SELECT doc_id, b.band,
                   list_aggregate(list_transform(sh, s -> substr(md5(s), 1 + b.band * 8, 8)),
                                  'min') AS signature
            FROM sh, (SELECT unnest(range(0, 4)) AS band) b),
    prior_fp AS (SELECT DISTINCT fp FROM d WHERE doc_id % 10 < 8),
    prior_sig AS (SELECT DISTINCT band, signature FROM sig WHERE doc_id % 10 < 8),
    ranked AS (SELECT doc_id, fp,
                      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
               FROM d WHERE doc_id % 10 >= 8),
    near AS (SELECT DISTINCT s.doc_id FROM sig s
             JOIN prior_sig p USING (band, signature)
             WHERE s.doc_id % 10 >= 8)
    SELECT r.doc_id,
           CAST(CASE WHEN pf.fp IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS exact_dup_prior,
           CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS near_dup_prior,
           CAST(CASE WHEN r.rn > 1 THEN 1 ELSE 0 END AS INTEGER) AS exact_dup_batch,
           CAST(CASE WHEN pf.fp IS NULL AND n.doc_id IS NULL AND r.rn = 1
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM ranked r
    LEFT JOIN prior_fp pf ON r.fp = pf.fp
    LEFT JOIN near n ON r.doc_id = n.doc_id
    """,
)
def q_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import (
        incremental_dedup_against_snapshot,
        write_dedup_snapshot,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    snap = _snapshot_scratch("dedup")
    write_dedup_snapshot(prior, snap)
    return incremental_dedup_against_snapshot(batch, snap)


# --- Incremental ANN on the correctness gate ----------------------------------
# Index the prior embeddings ONCE (persisted IVF snapshot), search the
# delta against the files with n_probe = n_cells — exact by
# construction, so the cross brute-force top-k is a hash oracle for
# the whole write->read->probe->rank lifecycle.
@query(
    "q_ivf_snapshot_search",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT d.vec_id AS vec_id, p.vec_id AS neighbor_id,
             list_inner_product(d.v, p.v)
               / (sqrt(list_inner_product(d.v, d.v)) * sqrt(list_inner_product(p.v, p.v)))
               AS sim
      FROM v d JOIN v p ON d.vec_id % 10 >= 8 AND p.vec_id % 10 < 8)
    SELECT vec_id, neighbor_id, rank, round(sim, 4) AS sim
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
          FROM pairs)
    WHERE rank <= 5
    """,
)
def q_ivf_snapshot_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.similarity import (
        search_ivf_snapshot,
        write_ivf_snapshot,
    )

    emb = table(spark, sf_dir, "embeddings")
    prior = emb.filter(F.col("vec_id") % 10 < 8)
    delta = emb.filter(F.col("vec_id") % 10 >= 8)
    snap = _snapshot_scratch("ivf")
    write_ivf_snapshot(prior, snap, n_cells=8)
    return search_ivf_snapshot(delta, snap, k=5, n_probe=8)


# --- Corpus -> curated -> chunked -> packed shards (the full data job) --------
# The end-to-end artifact a pre-training data run actually produces:
# exact-dedup keepers pass the quality gate, survivors split into
# overlapping 128-token chunks, chunks pack into ~2000-token shards by
# a deterministic global order (two-phase parallel prefix sum — never
# a single sorted task). Output is the shard manifest.
@query(
    "q_chunks_to_shards",
    oracle=f"""
    WITH prof AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             len(text) AS n_chars,
             len(text) - len(regexp_replace(text, '[\\.,;:!\\?"''()\\[\\]{{}}]', '', 'g'))
               AS n_punct,
             {_WORDS_SQL} AS toks
      FROM documents),
    keepers AS (SELECT fp, min(doc_id) AS keeper_id FROM prof GROUP BY fp),
    scored AS (
      SELECT p.doc_id, p.fp, p.toks,
             ((CASE WHEN p.n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN p.n_chars = 0 OR CAST(p.n_punct AS DOUBLE) / p.n_chars <= 0.2
                    THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN len(p.toks) > 0
                     AND CAST(len(list_filter(p.toks,
                           t -> list_contains(['the','and','of','to','is','with'], t)))
                         AS DOUBLE) / len(p.toks) >= 0.01
                    THEN 1.0 ELSE 0.0 END)) / 3.0 AS quality
      FROM prof p),
    kept AS (SELECT s.doc_id, s.toks FROM scored s
             JOIN keepers k ON s.fp = k.fp AND s.doc_id = k.keeper_id
             WHERE round(s.quality, 4) >= 0.6),
    c AS (SELECT doc_id, toks, len(toks) AS n,
                 CASE WHEN len(toks) = 0 THEN 0
                      ELSE greatest(1, CAST(ceil((len(toks) - 16) / 112.0) AS INTEGER))
                 END AS nc
          FROM kept),
    chunks AS (SELECT doc_id, CAST(u.i AS INTEGER) AS chunk_id,
                      CAST(least(n - u.i * 112, 128) AS INTEGER) AS n_tokens
               FROM c, unnest(range(0, nc)) AS u(i)),
    pre AS (SELECT n_tokens,
                   coalesce(sum(n_tokens) OVER (
                     ORDER BY doc_id * 1000000 + chunk_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
            FROM chunks)
    SELECT CAST(floor(p / 2000.0) AS BIGINT) AS shard,
           count(*) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM pre GROUP BY 1
    """,
)
def q_chunks_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sampling import pack_shards
    from magicxml_spark.operators.text import chunk_text, quality_score

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    prof = docs.select(
        "doc_id",
        "text",
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))).alias(
            "fp"
        ),
        quality_score(F.col("text")).alias("quality"),
    )
    keepers = prof.groupBy("fp").agg(F.min("doc_id").alias("keeper_id"))
    kept = (
        prof.join(
            keepers,
            (prof["fp"] == keepers["fp"]) & (prof["doc_id"] == keepers["keeper_id"]),
        )
        .filter(F.round("quality", 4) >= 0.6)
        .select("doc_id", "text")
    )
    chunks = chunk_text(kept, "doc_id", "text", chunk_tokens=128, overlap=16)
    keyed = chunks.select(
        (F.col("id") * 1_000_000 + F.col("chunk_id")).alias("ck"), "n_tokens"
    )
    packed = pack_shards(keyed, "ck", "n_tokens", budget=2000.0)
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


# ===========================================================================
# Round-7 published-recipe curation class (operators/curation.py):
# Dolma paragraph dedup, Gopher quality rules, C4 line cleaning, CCNet
# perplexity buckets. documents.text is single-line word salad, so the
# paragraph/line queries synthesize structure IDENTICALLY in both
# engines (the established q_line_dedup / PII-injection pattern): the
# point is exercising the published rule sets on non-trivial data.
# ===========================================================================


# --- Dolma-class paragraph dedup (first occurrence wins) ---------------------
# Synthetic multi-paragraph corpus with GUARANTEED repeats: doc d's
# paragraph p (p in 0..2) is the text of document (d*3+p) mod 100, so
# every paragraph recurs ~3n/100 times and the dedup keeps exactly the
# first (doc order) occurrence of each of the <=100 distinct texts.
@query(
    "q_paragraph_dedup",
    oracle="""
    WITH src AS (SELECT doc_id AS src_id, text AS para FROM documents
                 WHERE doc_id < 100),
    expl AS (SELECT d.doc_id, t.p, (d.doc_id * 3 + t.p) % 100 AS src_id
             FROM documents d, (SELECT unnest([0, 1, 2]) AS p) t),
    paras AS (SELECT e.doc_id, e.p AS pos, s.para
              FROM expl e JOIN src s USING (src_id)),
    firsts AS (SELECT doc_id, pos, para,
                      row_number() OVER (PARTITION BY para
                                         ORDER BY doc_id, pos) AS rn
               FROM paras),
    totals AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id),
    rebuilt AS (SELECT doc_id, count(*) AS n_kept,
                       md5(string_agg(para, chr(10) || chr(10) ORDER BY pos))
                         AS dedup_fp
                FROM firsts WHERE rn = 1 GROUP BY doc_id)
    SELECT t.doc_id, t.n_paras,
           coalesce(r.n_kept, 0) AS n_kept,
           coalesce(r.dedup_fp, md5('')) AS dedup_fp
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import paragraph_dedup

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.filter(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("src_id"), F.col("text").alias("para")
    )
    synth = (
        docs.select(
            "doc_id",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("p"),
        )
        .withColumn("src_id", (F.col("doc_id") * 3 + F.col("p")) % 100)
        .join(F.broadcast(src), "src_id")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "para"))),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("text")
        )
    )
    out = paragraph_dedup(synth, "doc_id", "text")
    return out.select(
        "doc_id", "n_paras", "n_kept", F.md5("text_dedup").alias("dedup_fp")
    )


# --- Gopher quality gate (Rae et al. 2021 A1.1) ------------------------------
# The oracle mirrors the full battery: scalar gates + nine n-gram
# repetition metrics; SQL assembled from the same threshold tables the
# operator ships so the rule set can never silently drift.
def _gopher_parts(source: str = "documents") -> tuple[str, str, str, str]:
    """(ctes, rep_sel, rep_flag, keep_cond) — the COMPLETE Gopher
    A1.1 battery as reusable SQL fragments, assembled from the
    operator's own threshold tables (q_gopher_quality composes the
    full frame over a synthesized multi-line corpus; q_curation_v3
    reuses the gate condition over raw documents). ``source`` names
    the (doc_id, text) relation the battery reads."""
    from magicxml_spark.operators.curation import (
        GOPHER_BULLET_CHARS,
        GOPHER_DUP_NGRAM_MAX,
        GOPHER_MAX_DUP_LINE_CHAR_FRAC,
        GOPHER_MAX_DUP_LINE_FRAC,
        GOPHER_MAX_DUP_PARA_CHAR_FRAC,
        GOPHER_MAX_DUP_PARA_FRAC,
        GOPHER_MAX_BULLET_LINE_FRAC,
        GOPHER_MAX_ELLIPSIS_LINE_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MIN_ALPHA_WORD_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        GOPHER_MAX_WORDS,
        GOPHER_STOPWORDS,
        GOPHER_TOP_NGRAM_MAX,
    )

    top_cols = ",\n".join(
        f"coalesce(max(CASE WHEN n = {n} THEN round(top_mass * 1.0 / chars, 6) END), 0.0)"
        f" AS top_ngram_frac_{n}"
        for n in sorted(GOPHER_TOP_NGRAM_MAX)
    )
    dup_cols = ",\n".join(
        f"coalesce(max(CASE WHEN n = {n} THEN round(dup_mass * 1.0 / chars, 6) END), 0.0)"
        f" AS dup_ngram_frac_{n}"
        for n in sorted(GOPHER_DUP_NGRAM_MAX)
    )
    line_metric_names = [
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
        "bullet_line_frac",
        "ellipsis_line_frac",
    ]
    rep_sel = ", ".join(
        [f"s.{c}" for c in line_metric_names]
        + [f"coalesce(r.top_ngram_frac_{n}, 0.0) AS top_ngram_frac_{n}"
           for n in sorted(GOPHER_TOP_NGRAM_MAX)]
        + [f"coalesce(r.dup_ngram_frac_{n}, 0.0) AS dup_ngram_frac_{n}"
           for n in sorted(GOPHER_DUP_NGRAM_MAX)]
    )
    # rep_flag = the full repetition table: n-gram caps PLUS the
    # duplicate line/paragraph rows
    rep_flag = " OR ".join(
        [f"coalesce(r.top_ngram_frac_{n}, 0.0) > {t}"
         for n, t in GOPHER_TOP_NGRAM_MAX.items()]
        + [f"coalesce(r.dup_ngram_frac_{n}, 0.0) > {t}"
           for n, t in GOPHER_DUP_NGRAM_MAX.items()]
        + [
            f"s.dup_line_frac > {GOPHER_MAX_DUP_LINE_FRAC}",
            f"s.dup_para_frac > {GOPHER_MAX_DUP_PARA_FRAC}",
            f"s.dup_line_char_frac > {GOPHER_MAX_DUP_LINE_CHAR_FRAC}",
            f"s.dup_para_char_frac > {GOPHER_MAX_DUP_PARA_CHAR_FRAC}",
        ]
    )
    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    bullet_list = ", ".join(f"'{b}'" for b in GOPHER_BULLET_CHARS)
    keep_cond = f"""s.n_words >= {GOPHER_MIN_WORDS}
                      AND s.n_words <= {GOPHER_MAX_WORDS}
                      AND s.mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                      AND s.mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
                      AND s.symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
                      AND s.alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}
                      AND s.n_stopwords >= {GOPHER_MIN_STOPWORDS}
                      AND s.bullet_line_frac <= {GOPHER_MAX_BULLET_LINE_FRAC}
                      AND s.ellipsis_line_frac <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC}
                      AND NOT ({rep_flag})"""
    # duplicate line/paragraph algebra (pure list ops, mirrors
    # curation._dup_fracs): dup count = len - distinct len; dup char
    # mass = total element chars - first-occurrence chars
    charsum = "coalesce(list_sum(list_transform({0}, x -> length(x))), 0)"

    def _dup_sql(arr: str) -> tuple[str, str]:
        tot, firsts = charsum.format(arr), charsum.format(f"list_distinct({arr})")
        return (
            f"CASE WHEN len({arr}) = 0 THEN 0.0"
            f" ELSE round((len({arr}) - len(list_distinct({arr}))) * 1.0"
            f" / len({arr}), 6) END",
            f"CASE WHEN {tot} = 0 THEN 0.0"
            f" ELSE round(({tot} - {firsts}) * 1.0 / {tot}, 6) END",
        )

    dl, dlc = _dup_sql("lns")
    dp, dpc = _dup_sql("prs")
    bullet = (
        f"CASE WHEN len(lns) = 0 THEN 0.0 ELSE round(len(list_filter(lns,"
        f" x -> left(ltrim(x), 1) IN ({bullet_list}))) * 1.0 / len(lns), 6) END"
    )
    ellipsis = (
        "CASE WHEN len(lns) = 0 THEN 0.0 ELSE round(len(list_filter(lns,"
        " x -> ends_with(rtrim(x), '...') OR ends_with(rtrim(x), '…')))"
        " * 1.0 / len(lns), 6) END"
    )
    ctes = f"""w AS (SELECT doc_id, text, {_WORDS_SQL} AS w,
                list_filter(string_split(text, chr(10)), x -> x <> '') AS lns,
                list_filter(string_split(text, chr(10) || chr(10)), x -> x <> '') AS prs
           FROM {source}),
    scal AS (
      SELECT doc_id, len(w) AS n_words,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE round(list_sum(list_transform(w, x -> length(x))) * 1.0
                             / len(w), 6) END AS mean_word_len,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE round((len(string_split(text, '#')) - 1
                              + len(string_split(text, '...')) - 1) * 1.0
                             / len(w), 6) END AS symbol_ratio,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                             * 1.0 / len(w), 6) END AS alpha_word_frac,
             len(list_filter(w, x -> x IN ({stop_list}))) AS n_stopwords,
             {dl} AS dup_line_frac,
             {dlc} AS dup_line_char_frac,
             {dp} AS dup_para_frac,
             {dpc} AS dup_para_char_frac,
             {bullet} AS bullet_line_frac,
             {ellipsis} AS ellipsis_line_frac
      FROM w),
    gl AS (SELECT doc_id, t.n,
                  length(array_to_string(w, ' ')) AS chars,
                  list_transform(range(1, greatest(len(w) - t.n + 2, 1)),
                                 i -> array_to_string(w[i : i + t.n - 1], ' ')) AS gs
           FROM w, range(2, 11) t(n)),
    grams AS (SELECT doc_id, n, chars, unnest(gs) AS g FROM gl),
    per_gram AS (SELECT doc_id, n, chars, g, count(*) AS c
                 FROM grams GROUP BY doc_id, n, chars, g),
    pg2 AS (SELECT *, max(c) OVER (PARTITION BY doc_id, n) AS topc
            FROM per_gram),
    per_order AS (SELECT doc_id, n, chars,
                         max(CASE WHEN c = topc THEN c * length(g) END)
                           AS top_mass,
                         sum(CASE WHEN c > 1 THEN (c - 1) * length(g)
                                  ELSE 0 END) AS dup_mass
                  FROM pg2 GROUP BY doc_id, n, chars),
    rep AS (SELECT doc_id, {top_cols}, {dup_cols}
            FROM per_order GROUP BY doc_id)"""
    return ctes, rep_sel, rep_flag, keep_cond


# Structured-corpus synthesis shared by the Spark query and the
# oracle: documents.text is single-line word salad, so the line/
# paragraph rules would be vacuously 0 on it. Both engines rebuild
# the SAME multi-line multi-paragraph corpus from pure integer
# arithmetic (the q_c4_clean pattern): 3-word lines with injected
# duplicate lines (doc%13 -> every other line is a fixed literal;
# (doc*31+li)%11 -> scattered copies of the same literal), bullet
# lines (doc%17 -> all lines bulleted; (doc*29+li)%23 -> scattered),
# ellipsis lines (doc%19 / (doc*23+li)%29), and 2-line paragraphs
# with doc%7 docs getting a repeated literal paragraph at every odd
# para index — every new A1.1 metric takes non-trivial values and
# some docs cross each published threshold (verified non-vacuous at
# sf0.01: every rule has both zero, mid-range, and over-cap docs).
_GOPHER_DUP_LINE = "the quick brown fox jumps."
_GOPHER_DUP_PARA = "dup para line one\ndup para line two"


def _gopher_synth_sql() -> str:
    base = "array_to_string(w[(i-1)*3+1 : (i-1)*3+3], ' ')"
    return f"""w0 AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w FROM w0 WHERE len(w) > 0),
    lined AS (SELECT doc_id,
      list_transform(range(1, CAST(ceil(len(w) / 3.0) AS BIGINT) + 1),
        i -> CASE
          WHEN doc_id % 13 = 0 AND (i - 1) % 2 = 0 THEN '{_GOPHER_DUP_LINE}'
          WHEN doc_id % 17 = 0 THEN '• ' || {base}
          WHEN doc_id % 19 = 0 AND (i - 1) % 2 = 0 THEN {base} || '...'
          WHEN (doc_id * 31 + (i - 1)) % 11 = 0 THEN '{_GOPHER_DUP_LINE}'
          WHEN (doc_id * 29 + (i - 1)) % 23 = 0 THEN '- ' || {base}
          WHEN (doc_id * 23 + (i - 1)) % 29 = 0 THEN {base} || '...'
          ELSE {base} END) AS ls
      FROM nz),
    synth AS (SELECT doc_id,
      array_to_string(
        list_transform(range(1, CAST(ceil(len(ls) / 2.0) AS BIGINT) + 1),
          j -> CASE WHEN doc_id % 7 = 0 AND (j - 1) % 2 = 1
                 THEN 'dup para line one' || chr(10) || 'dup para line two'
                 ELSE array_to_string(ls[(j-1)*2+1 : (j-1)*2+2], chr(10)) END),
        chr(10) || chr(10)) AS text
      FROM lined)"""


def _gopher_synth_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.text import tokens

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") > 0)
        # the line/paragraph synthesis below otherwise runs in the
        # SCAN's stage at input-split parallelism (2 splits at sf1,
        # ~16s of the 32s forced row on one core each — TODO r8 #6);
        # the shuffled payload is the compact (id, tokens) frame
        .repartition(spark.sparkContext.defaultParallelism)
    )
    d = F.col("doc_id")

    def mk_line(i):
        li = i - 1
        base = F.array_join(F.slice("w", (i - 1) * 3 + 1, 3), " ")
        return (
            F.when((d % 13 == 0) & (li % 2 == 0), F.lit(_GOPHER_DUP_LINE))
            .when(d % 17 == 0, F.concat(F.lit("• "), base))
            .when((d % 19 == 0) & (li % 2 == 0), F.concat(base, F.lit("...")))
            .when((d * 31 + li) % 11 == 0, F.lit(_GOPHER_DUP_LINE))
            .when((d * 29 + li) % 23 == 0, F.concat(F.lit("- "), base))
            .when((d * 23 + li) % 29 == 0, F.concat(base, F.lit("...")))
            .otherwise(base)
        )

    lined = docs.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.ceil(F.size("w") / F.lit(3.0)).cast("int")),
            mk_line,
        ).alias("ls"),
    )

    def mk_para(j):
        pj = j - 1
        return F.when(
            (d % 7 == 0) & (pj % 2 == 1), F.lit(_GOPHER_DUP_PARA)
        ).otherwise(F.array_join(F.slice("ls", (j - 1) * 2 + 1, 2), "\n"))

    return lined.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.ceil(F.size("ls") / F.lit(2.0)).cast("int")),
                mk_para,
            ),
            "\n\n",
        ).alias("text"),
    )


def _gopher_oracle() -> str:
    ctes, rep_sel, rep_flag, keep_cond = _gopher_parts(source="synth")
    return f"""
    WITH {_gopher_synth_sql()},
    {ctes}
    SELECT s.doc_id, s.n_words, s.mean_word_len, s.symbol_ratio,
           s.alpha_word_frac, s.n_stopwords, {rep_sel},
           CAST(CASE WHEN {rep_flag} THEN 1 ELSE 0 END AS INTEGER) AS rep_flag,
           CAST(CASE WHEN {keep_cond} THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM scal s LEFT JOIN rep r USING (doc_id)
    """


@query("q_gopher_quality", oracle=_gopher_oracle())
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import gopher_quality

    out = gopher_quality(_gopher_synth_spark(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "alpha_word_frac",
        "n_stopwords",
        *[
            c
            for c in out.columns
            if c.startswith(("top_ngram_", "dup_ngram_", "dup_line_", "dup_para_"))
            or c in ("bullet_line_frac", "ellipsis_line_frac")
        ],
        F.col("rep_flag").cast("int").alias("rep_flag"),
        F.col("keep").cast("int").alias("keep"),
    )


# --- C4 line-level cleaning (Raffel et al. 2020 §2.2) ------------------------
# Lines are the q_line_dedup 3-word synthesis; punctuation and
# blocklist hits are injected by pure integer arithmetic so both
# engines build the identical corpus: (doc_id+pos)%4 -> . . ? bare,
# (doc_id*31+pos)%97 -> {0: javascript line (line-level drop),
# 1: lorem-ipsum DOC kill, 2: curly-brace DOC kill — §2.2 removes the
# whole page for both placeholder text and code tells}.
@query(
    "q_c4_clean",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    lines AS (
      SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(w) / 3.0) AS BIGINT) + 1),
                            i -> array_to_string(w[(i-1)*3+1 : (i-1)*3+3], ' ')) AS ls
      FROM w WHERE len(w) > 0),
    expl AS (SELECT doc_id, unnest(ls) AS bline,
                    unnest(range(0, len(ls))) AS pos
             FROM lines),
    aug AS (SELECT doc_id, pos,
                   CASE WHEN (doc_id * 31 + pos) % 97 = 0
                          THEN 'click to enable javascript now.'
                        WHEN (doc_id * 31 + pos) % 97 = 1
                          THEN 'lorem ipsum dolor sit amet.'
                        WHEN (doc_id * 31 + pos) % 97 = 2
                          THEN 'call function() {{ now }}.'
                        WHEN (doc_id + pos) % 4 IN (0, 1) THEN bline || '.'
                        WHEN (doc_id + pos) % 4 = 2 THEN bline || '?'
                        ELSE bline END AS line
            FROM expl),
    marked AS (SELECT doc_id, pos, line,
                      (regexp_matches(line, '[.!?"]$')
                       AND len(list_filter(string_split_regex(lower(line), '\\s+'),
                                           x -> x <> '')) >= 3
                       AND NOT contains(lower(line), 'javascript')) AS ok,
                      (contains(lower(line), 'lorem ipsum')
                       OR contains(lower(line), '{{')) AS kill
               FROM aug),
    agg AS (SELECT doc_id, count(*) AS n_lines,
                   CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   max(kill) AS doc_killed,
                   md5(string_agg(CASE WHEN ok THEN line END, chr(10)
                                  ORDER BY pos)) AS clean_fp
            FROM marked GROUP BY doc_id)
    SELECT doc_id, n_lines, n_kept, clean_fp
    FROM agg WHERE NOT doc_killed AND n_kept >= 5
    """,
)
def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import c4_line_filters
    from magicxml_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).filter(F.size("w") > 0)
    lines = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.ceil(F.size("w") / F.lit(3.0)).cast("int")),
                lambda i: F.array_join(F.slice("w", (i - 1) * 3 + 1, 3), " "),
            )
        ).alias("pos", "bline"),
    )
    k = (F.col("doc_id") * 31 + F.col("pos")) % 97
    r = (F.col("doc_id") + F.col("pos")) % 4
    aug = lines.select(
        "doc_id",
        "pos",
        F.when(k == 0, F.lit("click to enable javascript now."))
        .when(k == 1, F.lit("lorem ipsum dolor sit amet."))
        .when(k == 2, F.lit("call function() { now }."))
        .when(r.isin(0, 1), F.concat(F.col("bline"), F.lit(".")))
        .when(r == 2, F.concat(F.col("bline"), F.lit("?")))
        .otherwise(F.col("bline"))
        .alias("line"),
    )
    out = c4_line_filters(aug, "doc_id", "line", "pos")
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("text_clean").alias("clean_fp")
    )


# --- C4 three-sentence-span dedup (Raffel et al. 2020 §2.2's other half) -----
# "discard all but one of any three-sentence span occurring more than
# once in the data set". The harness synthesizes sentence-pool docs
# with pure integer arithmetic identically in both engines (the
# q_c4_clean pattern): docs in the same residue class share shifted
# sentence runs (partial-overlap kills), every 4th doc gets a unique
# namespace (untouched), and lengths 1-5 exercise the <3-sentence
# passthrough.
def _c4_span_ctes(src: str) -> str:
    """Sentence split + 3-sentence span dedup reading (doc_id, text)
    from ``src``; ends in ``c4_rebuilt`` (doc_id, n_sentences, kept
    sentence list). Shared by q_c4_span_dedup and the v5 composition."""
    return f"""
    c4_sents AS (
      SELECT doc_id, list_filter(list_transform(string_split(
        regexp_replace(text, '([.!?])\\s+', '\\1' || chr(30), 'g'), chr(30)),
        s -> trim(s)), s -> s <> '') AS s
      FROM {src}),
    c4_spans0 AS (
      SELECT doc_id, s, unnest(range(0, len(s) - 2)) AS start
      FROM c4_sents WHERE len(s) >= 3),
    c4_spans AS (
      SELECT doc_id, start,
             md5(s[start + 1] || chr(31) || s[start + 2] || chr(31)
                 || s[start + 3]) AS h
      FROM c4_spans0),
    c4_ranked AS (
      SELECT doc_id, start,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn,
             count(*) OVER (PARTITION BY h) AS c
      FROM c4_spans),
    c4_kills AS (
      SELECT doc_id, list(start) AS ks FROM c4_ranked
      WHERE c > 1 AND rn > 1 GROUP BY doc_id),
    c4_rebuilt AS (
      SELECT se.doc_id,
             CAST(len(se.s) AS BIGINT) AS n_sentences,
             CASE WHEN k.ks IS NULL THEN se.s
                  ELSE list_filter(se.s, (x, i) -> NOT len(list_filter(
                    k.ks, kk -> i - 1 >= kk AND i - 1 <= kk + 2)) > 0)
             END AS kept
      FROM c4_sents se LEFT JOIN c4_kills k USING (doc_id))"""


@query(
    "q_c4_span_dedup",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             array_to_string(list_transform(
               range(0, CAST(doc_id % 5 + 1 AS INT)),
               j -> 'S' || CAST((CASE WHEN doc_id % 4 = 0 THEN doc_id * 900
                                      ELSE (doc_id * 3) % 50 END) + j AS VARCHAR)
                 || ' alpha beta.'), ' ') AS text
      FROM documents),
    {_c4_span_ctes("synth")}
    SELECT doc_id, n_sentences, CAST(len(kept) AS BIGINT) AS n_kept,
           md5(coalesce(array_to_string(kept, ' '), '')) AS dedup_fp
    FROM c4_rebuilt
    """,
)
def q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import c4_span_dedup

    d = F.col("doc_id")
    base = F.when(d % 4 == 0, d * 900).otherwise((d * 3) % 50)
    synth = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), (d % 5).cast("int")),
                lambda j: F.concat(
                    F.lit("S"),
                    (base + j).cast("string"),
                    F.lit(" alpha beta."),
                ),
            ),
        ).alias("text"),
    )
    out = c4_span_dedup(synth)
    return out.select(
        "doc_id",
        "n_sentences",
        "n_kept",
        F.md5("text_dedup").alias("dedup_fp"),
    )


# --- CCNet perplexity buckets (Wenzek et al. 2020 §4.3) ----------------------
# Head/middle/tail by unigram surprisal, rank-exact (ntile semantics
# via the two-phase exact_ntile — no single-task global window, no
# float quantile interpolation to drift between engines).
@query(
    "q_perplexity_buckets",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents),
    tot AS (SELECT count(*) AS n_total FROM tok),
    vocab AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    micro AS (SELECT doc_id,
                     CAST(round(ln(CAST(n_total AS DOUBLE) / c) * 1e6, 0) AS BIGINT)
                       AS m
              FROM tok JOIN vocab USING (term), tot),
    scored AS (SELECT doc_id, count(*) AS n_tokens,
                      round(sum(m) / count(*) / 1e6, 6) AS surprisal
               FROM micro GROUP BY doc_id),
    nn AS (SELECT count(*) AS n FROM scored)
    SELECT doc_id, n_tokens, surprisal,
           CAST(floor((row_number() OVER (ORDER BY surprisal, doc_id) - 1)
                      * 3.0 / n) AS BIGINT) + 1 AS bucket
    FROM scored, nn
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import perplexity_buckets

    docs = table(spark, sf_dir, "documents")
    return perplexity_buckets(docs)


# --- Interpolated bigram LM surprisal ---------------------------------------
# Jelinek-Mercer p = 0.75*c(prev,w)/c(prev) + 0.25*c(w)/N (position 0
# and unseen bigrams fall back per the operator contract); micro-nat
# row-wise rounding keeps the double arithmetic engine-exact (the
# unigram_surprisal determinism contract, one order up).
@query(
    "q_bigram_surprisal",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
    pos AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(w) + 1),
                                         i -> CASE WHEN i > 1 THEN w[i - 1] END)) AS prev,
                   unnest(list_transform(range(1, len(w) + 1), i -> w[i])) AS cur,
                   unnest(list_transform(range(1, len(w) + 1), i -> i = 1)) AS is_first
            FROM nz),
    uni AS (SELECT cur, count(*) AS cu FROM pos GROUP BY cur),
    tot AS (SELECT count(*) AS n_total FROM pos),
    bi AS (SELECT prev, cur, count(*) AS cb FROM pos WHERE NOT is_first
           GROUP BY prev, cur),
    prevc AS (SELECT cur AS prev, cu AS cp FROM uni),
    micro AS (
      SELECT p.doc_id,
             CAST(round(-ln(
               CASE WHEN p.is_first THEN CAST(u.cu AS DOUBLE) / t.n_total
                    WHEN b.cb IS NULL
                      THEN CAST(0.25 AS DOUBLE) * (CAST(u.cu AS DOUBLE) / t.n_total)
                    ELSE CAST(0.75 AS DOUBLE) * (CAST(b.cb AS DOUBLE) / pc.cp)
                         + CAST(0.25 AS DOUBLE) * (CAST(u.cu AS DOUBLE) / t.n_total)
               END) * 1e6, 0) AS BIGINT) AS m
      FROM pos p
      JOIN uni u USING (cur)
      LEFT JOIN bi b ON p.prev = b.prev AND p.cur = b.cur
      LEFT JOIN prevc pc ON p.prev = pc.prev, tot t)
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(m) / count(*) / 1e6, 6) AS surprisal
    FROM micro GROUP BY doc_id
    """,
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import bigram_surprisal

    docs = table(spark, sf_dir, "documents")
    return bigram_surprisal(docs)


# --- Interpolated trigram LM surprisal (CCNet ladder, order 3) ---------------
# Recursive Jelinek-Mercer one order up from the bigram scorer, with
# the count-floor pruning knob EXERCISED (floor=2: singleton trigrams
# — most of a word-salad corpus — are pruned, so the backed-off
# (1-lam)*p2 branch runs corpus-wide alongside the full p3 branch);
# micro-nat row-wise rounding keeps the doubles engine-exact.
@query(
    "q_trigram_surprisal",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
    pos AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(w) + 1),
                                         i -> CASE WHEN i > 2 THEN w[i - 2] END)) AS prev2,
                   unnest(list_transform(range(1, len(w) + 1),
                                         i -> CASE WHEN i > 1 THEN w[i - 1] END)) AS prev1,
                   unnest(list_transform(range(1, len(w) + 1), i -> w[i])) AS cur,
                   unnest(list_transform(range(1, len(w) + 1), i -> least(i, 3))) AS pos
            FROM nz),
    uni AS (SELECT cur, count(*) AS cu FROM pos GROUP BY cur),
    tot AS (SELECT count(*) AS n_total FROM pos),
    bi AS (SELECT prev1, cur, count(*) AS cb FROM pos WHERE pos >= 2
           GROUP BY prev1, cur),
    tri AS (SELECT prev2, prev1, cur, count(*) AS ct FROM pos WHERE pos >= 3
            GROUP BY prev2, prev1, cur HAVING count(*) >= 2),
    prevc AS (SELECT cur AS prev1, cu AS cp FROM uni),
    ctx2 AS (SELECT prev1 AS prev2, cur AS prev1, cb AS cvu FROM bi),
    micro AS (
      SELECT p.doc_id,
             CAST(round(-ln(
               CASE WHEN p.pos = 1 THEN CAST(u.cu AS DOUBLE) / t.n_total
                    WHEN p.pos = 2
                      THEN 0.75 * (CAST(b.cb AS DOUBLE) / pc.cp)
                           + 0.25 * (CAST(u.cu AS DOUBLE) / t.n_total)
                    ELSE 0.75 * coalesce(CAST(tr.ct AS DOUBLE) / c2.cvu,
                                         CAST(0.0 AS DOUBLE))
                         + 0.25 * (0.75 * (CAST(b.cb AS DOUBLE) / pc.cp)
                                   + 0.25 * (CAST(u.cu AS DOUBLE) / t.n_total))
               END) * 1e6, 0) AS BIGINT) AS m
      FROM pos p
      JOIN uni u USING (cur)
      LEFT JOIN prevc pc ON p.prev1 = pc.prev1
      LEFT JOIN bi b ON p.prev1 = b.prev1 AND p.cur = b.cur
      LEFT JOIN ctx2 c2 ON p.prev2 = c2.prev2 AND p.prev1 = c2.prev1
      LEFT JOIN tri tr ON p.prev2 = tr.prev2 AND p.prev1 = tr.prev1
                      AND p.cur = tr.cur, tot t)
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(m) / count(*) / 1e6, 6) AS surprisal
    FROM micro GROUP BY doc_id
    """,
)
def q_trigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import trigram_surprisal

    docs = table(spark, sf_dir, "documents")
    return trigram_surprisal(docs, count_floor=2)


# --- Interpolated 5-gram LM surprisal (the full CCNet order) ------------------
# The generalized recursive Jelinek-Mercer ladder at order 5 — what
# Wenzek et al. 2020 actually score with — with the count floor
# pruning every table of order >= 3. The oracle is GENERATED from the
# same (order, floor) parameters and LM constants so the two spellings cannot
# drift; the ladder's float shape matches the Spark expression tree
# term for term (micro-nat row-wise rounding as everywhere).
def _ngram_oracle(order: int, floor: int) -> str:
    from magicxml_spark.operators.curation import LM_FLOOR_FROM, LM_LAMBDA as lam

    pos_cols = ",\n".join(
        f"unnest(list_transform(range(1, len(w) + 1),"
        f" i -> CASE WHEN i > {j} THEN w[i - {j}] END)) AS prev{j}"
        for j in range(1, order)
    )
    tables, ctxs, joins = [], [], []
    for k in range(2, order + 1):
        keys = [f"prev{j}" for j in range(k - 1, 0, -1)] + ["cur"]
        having = (
            f" HAVING count(*) >= {floor}"
            if k >= LM_FLOOR_FROM and floor > 1
            else ""
        )
        tables.append(
            f"t{k} AS (SELECT {', '.join(keys)}, count(*) AS c{k}"
            f" FROM pos WHERE pos >= {k} GROUP BY {', '.join(keys)}{having})"
        )
        if k == 2:
            ctxs.append("x2 AS (SELECT cur AS prev1, c1 AS x2 FROM t1)")
        else:
            renames = ", ".join(
                [f"prev{j} AS prev{j + 1}" for j in range(1, k - 1)]
                + ["cur AS prev1", f"c{k - 1} AS x{k}"]
            )
            ctxs.append(f"x{k} AS (SELECT {renames} FROM t{k - 1})")
        on = " AND ".join(f"p.{c} = b{k}.{c}" for c in keys)
        joins.append(f"LEFT JOIN t{k} b{k} ON {on}")
        on2 = " AND ".join(f"p.{c} = g{k}.{c}" for c in keys[:-1])
        joins.append(f"LEFT JOIN x{k} g{k} ON {on2}")
    p = "CAST(u.c1 AS DOUBLE) / t.n_total"
    ladder = [p]
    for k in range(2, order + 1):
        p = (
            f"{lam} * coalesce(CAST(b{k}.c{k} AS DOUBLE) / g{k}.x{k},"
            f" CAST(0.0 AS DOUBLE)) + {1.0 - lam} * ({p})"
        )
        ladder.append(p)
    case = (
        "CASE "
        + " ".join(
            f"WHEN p.pos = {k} THEN {ladder[k - 1]}" for k in range(1, order)
        )
        + f" ELSE {ladder[order - 1]} END"
    )
    tables_sql = ",\n    ".join(tables)
    ctxs_sql = ",\n    ".join(ctxs)
    joins_sql = "\n      ".join(joins)
    return f"""
    WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
    pos AS (SELECT doc_id,
                   {pos_cols},
                   unnest(list_transform(range(1, len(w) + 1), i -> w[i])) AS cur,
                   unnest(list_transform(range(1, len(w) + 1),
                                         i -> least(i, {order}))) AS pos
            FROM nz),
    t1 AS (SELECT cur, count(*) AS c1 FROM pos GROUP BY cur),
    tot AS (SELECT count(*) AS n_total FROM pos),
    {tables_sql},
    {ctxs_sql},
    micro AS (
      SELECT p.doc_id,
             CAST(round(-ln({case}) * 1e6, 0) AS BIGINT) AS m
      FROM pos p
      JOIN t1 u USING (cur)
      {joins_sql}, tot t)
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(m) / count(*) / 1e6, 6) AS surprisal
    FROM micro GROUP BY doc_id
    """


@query("q_5gram_surprisal", oracle=_ngram_oracle(order=5, floor=2))
def q_5gram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import ngram_surprisal

    docs = table(spark, sf_dir, "documents")
    return ngram_surprisal(docs, order=5, count_floor=2)


def _kn_oracle(order: int, train_src: str = 'pos', score_src: str = 'pos', extra_ctes: str = '') -> str:
    """GENERATED modified-Kneser-Ney oracle at any order. The ladder,
    gamma, and discount expressions come from the SAME text generators
    the Spark operator applies via F.expr
    (magicxml_spark.operators.curation.kn_ladder_sql /
    kn_discount_sql) — the CTE chain here only reproduces the count
    tables: raw r_k, continuation a_k = distinct-left-extension types
    of r_{k+1}, per-context totals, counts-of-counts, and the one-row
    scalar cross join."""
    from magicxml_spark.operators.curation import (
        kn_discount_sql,
        kn_ladder_sql,
    )

    pos_cols = ",\n".join(
        f"unnest(list_transform(range(1, len(w) + 1),"
        f" i -> CASE WHEN i > {j} THEN w[i - {j}] END)) AS prev{j}"
        for j in range(1, order)
    )
    keys_of = {
        k: [f"prev{j}" for j in range(k - 1, 0, -1)] + ["cur"]
        for k in range(1, order + 1)
    }
    ccs_select = ", ".join(
        f"coalesce(sum(CASE WHEN cnt = {r} THEN 1 ELSE 0 END), 0)"
        f" AS _cn{r}_{{k}}"
        for r in (1, 2, 3, 4)
    )
    tables, joins, jcols = [], [], []
    for k in range(2, order + 1):
        keys = ", ".join(keys_of[k])
        tables.append(
            f"r{k} AS (SELECT {keys}, count(*) AS cnt"
            f" FROM {train_src} WHERE pos >= {k} GROUP BY {keys})"
        )
    tables.append(f"a{order} AS (SELECT * FROM r{order})")
    for k in range(1, order):
        keys = ", ".join(keys_of[k])
        tables.append(
            f"a{k} AS (SELECT {keys}, count(*) AS cnt"
            f" FROM r{k + 1} GROUP BY {keys})"
        )
    for k in range(2, order + 1):
        ckeys = ", ".join(keys_of[k][:-1])
        tables.append(
            f"ctx{k} AS (SELECT {ckeys}, sum(cnt) AS A,"
            f" sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n1,"
            f" sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS n2,"
            f" sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS n3p"
            f" FROM a{k} GROUP BY {ckeys})"
        )
    for k in range(1, order + 1):
        tables.append(
            f"cc{k} AS (SELECT {ccs_select.format(k=k)} FROM a{k})"
        )
    disc_cols = ", ".join(
        f"{text} AS {name}"
        for k in range(1, order + 1)
        for name, text in kn_discount_sql(k).items()
    )
    ccs = ", ".join(f"cc{k}" for k in range(1, order + 1))
    joins.append("LEFT JOIN a1 u1 ON p.cur = u1.cur")
    jcols.append("u1.cnt AS _a1")
    for k in range(2, order + 1):
        on = " AND ".join(f"p.{c} = b{k}.{c}" for c in keys_of[k])
        joins.append(f"LEFT JOIN a{k} b{k} ON {on}")
        on2 = " AND ".join(f"p.{c} = g{k}.{c}" for c in keys_of[k][:-1])
        joins.append(f"LEFT JOIN ctx{k} g{k} ON {on2}")
        jcols.append(
            f"b{k}.cnt AS _a{k}, g{k}.A AS _tot{k}, g{k}.n1 AS _n1_{k},"
            f" g{k}.n2 AS _n2_{k}, g{k}.n3p AS _n3p_{k}"
        )
    tables_sql = ",\n    ".join(tables)
    joins_sql = "\n      ".join(joins)
    jcols_sql = ",\n           ".join(jcols)
    return f"""
    WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
    pos AS (SELECT doc_id,
                   {pos_cols},
                   unnest(list_transform(range(1, len(w) + 1), i -> w[i])) AS cur,
                   unnest(list_transform(range(1, len(w) + 1),
                                         i -> least(i, {order}))) AS pos
            FROM nz),
    {extra_ctes}{tables_sql},
    vv AS (SELECT count(DISTINCT cur) AS _V FROM {train_src}),
    g1 AS (SELECT coalesce(sum(cnt), 0) AS _tot1,
                  coalesce(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END), 0) AS _n1_1,
                  coalesce(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END), 0) AS _n2_1,
                  coalesce(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END), 0) AS _n3p_1
           FROM a1),
    scal AS (SELECT *, {disc_cols} FROM vv, g1, {ccs}),
    j AS (SELECT p.doc_id AS doc_id, p.pos AS pos,
           {jcols_sql},
           s.*
      FROM {score_src} p
      {joins_sql}, scal s),
    micro AS (
      SELECT doc_id,
             CAST(round(-ln({kn_ladder_sql(order)}) * 1e6, 0) AS BIGINT) AS m
      FROM j)
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(m) / count(*) / 1e6, 6) AS surprisal
    FROM micro GROUP BY doc_id
    """


@query("q_5gram_kn", oracle=_kn_oracle(order=5))
def q_5gram_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified-Kneser-Ney 5-gram surprisal over documents — the
    smoothing family of CCNet's actual KenLM filter (Wenzek et al.
    2020 §4.2; Chen & Goodman 1998 §3). The oracle is GENERATED from
    the same expression text the operator evaluates, so the parity
    check covers the count plumbing while the independent Python
    reference + hand pins in tests/test_curation.py gate the discount
    math itself (the shared-misconception class)."""
    from magicxml_spark.operators.curation import ngram_surprisal

    docs = table(spark, sf_dir, "documents")
    return ngram_surprisal(docs, order=5, smoothing="kn")


# --- Frozen-LM snapshot scoring (CCNet's actual shape) ------------------------
# Wenzek et al. 2020 §4.2 score crawl text against a TARGET-domain LM
# (Wikipedia), not the corpus's own statistics. Here the "domain" half
# (even doc_ids) trains a pruned trigram snapshot to parquet and the
# "crawl" half (odd doc_ids) scores against it — write -> read ->
# score lifecycle, OOV unigrams at the deterministic 1/N Laplace
# floor. The oracle replays the split and the frozen ladder in SQL.
def _lm_snapshot_oracle(order: int, floor: int) -> str:
    from magicxml_spark.operators.curation import LM_FLOOR_FROM, LM_LAMBDA as lam

    pos_cols = ",\n".join(
        f"unnest(list_transform(range(1, len(w) + 1),"
        f" i -> CASE WHEN i > {j} THEN w[i - {j}] END)) AS prev{j}"
        for j in range(1, order)
    )
    tables, ctxs, joins = [], [], []
    for k in range(2, order + 1):
        keys = [f"prev{j}" for j in range(k - 1, 0, -1)] + ["cur"]
        having = (
            f" HAVING count(*) >= {floor}"
            if k >= LM_FLOOR_FROM and floor > 1
            else ""
        )
        tables.append(
            f"t{k} AS (SELECT {', '.join(keys)}, count(*) AS c{k}"
            f" FROM tr WHERE pos >= {k} GROUP BY {', '.join(keys)}{having})"
        )
        if k == 2:
            ctxs.append("x2 AS (SELECT cur AS prev1, c1 AS x2 FROM t1)")
        else:
            renames = ", ".join(
                [f"prev{j} AS prev{j + 1}" for j in range(1, k - 1)]
                + ["cur AS prev1", f"c{k - 1} AS x{k}"]
            )
            ctxs.append(f"x{k} AS (SELECT {renames} FROM t{k - 1})")
        on = " AND ".join(f"p.{c} = b{k}.{c}" for c in keys)
        joins.append(f"LEFT JOIN t{k} b{k} ON {on}")
        on2 = " AND ".join(f"p.{c} = g{k}.{c}" for c in keys[:-1])
        joins.append(f"LEFT JOIN x{k} g{k} ON {on2}")
    p = "CAST(coalesce(u.c1, 1) AS DOUBLE) / t.n_total"
    ladder = [p]
    for k in range(2, order + 1):
        p = (
            f"{lam} * coalesce(CAST(b{k}.c{k} AS DOUBLE) / g{k}.x{k},"
            f" CAST(0.0 AS DOUBLE)) + {1.0 - lam} * ({p})"
        )
        ladder.append(p)
    case = (
        "CASE "
        + " ".join(
            f"WHEN p.pos = {k} THEN {ladder[k - 1]}" for k in range(1, order)
        )
        + f" ELSE {ladder[order - 1]} END"
    )
    tables_sql = ",\n    ".join(tables)
    ctxs_sql = ",\n    ".join(ctxs)
    joins_sql = "\n      ".join(joins)
    return f"""
    WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
    pos AS (SELECT doc_id,
                   {pos_cols},
                   unnest(list_transform(range(1, len(w) + 1), i -> w[i])) AS cur,
                   unnest(list_transform(range(1, len(w) + 1),
                                         i -> least(i, {order}))) AS pos
            FROM nz),
    tr AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
    sc AS (SELECT * FROM pos WHERE doc_id % 2 = 1),
    t1 AS (SELECT cur, count(*) AS c1 FROM tr GROUP BY cur),
    tot AS (SELECT count(*) AS n_total FROM tr),
    {tables_sql},
    {ctxs_sql},
    micro AS (
      SELECT p.doc_id,
             CAST(round(-ln({case}) * 1e6, 0) AS BIGINT) AS m
      FROM sc p
      LEFT JOIN t1 u ON p.cur = u.cur
      {joins_sql}, tot t)
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(m) / count(*) / 1e6, 6) AS surprisal
    FROM micro GROUP BY doc_id
    """


@query("q_lm_snapshot_score", oracle=_lm_snapshot_oracle(order=3, floor=2))
def q_lm_snapshot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import (
        score_with_lm_snapshot,
        write_lm_snapshot,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    snap = _snapshot_scratch("lm3")
    write_lm_snapshot(train, snap, order=3, count_floor=2)
    return score_with_lm_snapshot(batch, snap)


@query(
    "q_lm_snapshot_kn",
    oracle=_kn_oracle(
        3,
        train_src="tr",
        score_src="sc",
        extra_ctes=(
            "tr AS (SELECT * FROM pos WHERE doc_id % 2 = 0),\n"
            "    sc AS (SELECT * FROM pos WHERE doc_id % 2 = 1),\n    "
        ),
    ),
)
def q_lm_snapshot_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen modified-Kneser-Ney snapshot lifecycle: train a KN
    trigram snapshot on the even-doc_id half (adjusted count tables +
    context aggregates + discount scalars as parquet), score the odd
    half against it — OOV tokens take the gamma-chained uniform 1/V of
    the TRAIN vocab, straight from the math. The oracle is the same
    generated KN SQL as q_5gram_kn with the train/score split injected
    as CTEs."""
    from magicxml_spark.operators.curation import (
        score_with_lm_snapshot,
        write_lm_snapshot,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    snap = _snapshot_scratch("lmkn3")
    write_lm_snapshot(
        docs.filter(F.col("doc_id") % 2 == 0), snap, order=3, smoothing="kn"
    )
    return score_with_lm_snapshot(
        docs.filter(F.col("doc_id") % 2 == 1), snap
    )


@query("q_stream_lm_score", oracle=_lm_snapshot_oracle(order=3, floor=2))
def q_stream_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_lm_snapshot_score — the crawl half arrives
    as a document STREAM and each micro-batch is scored statelessly
    against the frozen snapshot (streaming/lm.py); the oracle is the
    SAME frozen-ladder SQL, so parity pins stream == batch == DuckDB.
    Completes the snapshot family's streaming symmetry (VERDICT r8
    missing #3)."""
    from magicxml_spark.operators.curation import write_lm_snapshot
    from magicxml_spark.streaming.lm import run_stream_lm_score

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    snap = _snapshot_scratch("lm3s")
    write_lm_snapshot(train, snap, order=3, count_floor=2)
    return run_stream_lm_score(
        spark,
        sf_dir,
        snap,
        out_dir=_snapshot_scratch("lm3s_out"),
        doc_filter=F.col("doc_id") % 2 == 1,
    )


# --- Seeded deterministic corpus shuffle -------------------------------------
# The training-order epoch shuffle: md5-keyed permutation (seed 42),
# rank via the two-phase exact global rank, packed into 50-doc shards;
# the per-shard fingerprint pins the EXACT order, so any divergence in
# hashing, ranking, or shard arithmetic is a value mismatch.
@query(
    "q_corpus_shuffle",
    oracle="""
    WITH h AS (SELECT doc_id,
                      CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) AS hk
               FROM documents),
    r AS (SELECT doc_id, row_number() OVER (ORDER BY hk, doc_id) AS rk FROM h)
    SELECT CAST(floor((rk - 1) / 50.0) AS BIGINT) AS shard,
           count(*) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rk)) AS order_fp
    FROM r GROUP BY 1
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sampling import seeded_shuffle

    docs = table(spark, sf_dir, "documents").select("doc_id")
    ranked = seeded_shuffle(docs, "doc_id", 42)
    return (
        ranked.withColumn(
            "shard", ((F.col("shuffle_rank") - 1) / F.lit(50.0)).cast("long")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("shuffle_rank", "doc_id"))
                        ),
                        lambda s: s["doc_id"].cast("string"),
                    ),
                    ",",
                )
            ).alias("order_fp"),
        )
    )


# --- BPE merge-table application ---------------------------------------------
# Tokenizer application as a pure codegen projection (no UDF, no
# explode); the oracle replays the SAME ranked merge chain, assembled
# from the operator's own table, and the per-doc segmentation
# fingerprint pins exact merge order + replace semantics.
def _bpe_oracle() -> str:
    from magicxml_spark.operators.text import BPE_ENGLISH_MERGES

    # the per-symbol chr(2)/chr(3) sentinels anchor every replace to
    # WHOLE symbols (operator docstring: a bare space spelling matches
    # across symbol contents and shares boundary separators)
    inner = (
        "array_to_string(list_transform(range(1, length(wd) + 1),"
        " i -> chr(2) || substr(wd, i, 1) || chr(3)), '')"
    )
    for a, b in BPE_ENGLISH_MERGES:
        pat = f"chr(2) || '{a}' || chr(3) || chr(2) || '{b}' || chr(3)"
        rep = f"chr(2) || '{a}{b}' || chr(3)"
        inner = f"replace({inner}, {pat}, {rep})"
    inner = f"replace(replace(replace({inner}, chr(3) || chr(2), ' '), chr(2), ''), chr(3), '')"
    return f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    seg AS (SELECT doc_id, len(w) AS n_words,
                   length(array_to_string(w, '')) AS n_chars,
                   list_transform(w, wd -> {inner}) AS segs
            FROM w)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(coalesce(list_sum(list_transform(segs,
                                                 s -> len(string_split(s, ' ')))),
                         0) AS BIGINT) AS n_subwords,
           md5(array_to_string(segs, ' | ')) AS seg_fp
    FROM seg
    """


@query("q_bpe_tokenize", oracle=_bpe_oracle())
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.text import bpe_apply

    docs = table(spark, sf_dir, "documents")
    return bpe_apply(docs)


# --- Curation pipeline v3: the round-7 class composed end-to-end ------------
# Gopher gate -> CCNet head/middle selection (perplexity ntile over
# the SURVIVING corpus) -> seeded epoch shuffle -> 2000-token shards.
# Every stage is the already-oracle-gated operator; the composed
# oracle replays the same algebra, so a drift ANYWHERE in the chain
# (gate condition, surprisal micro-nats, ntile boundary, shuffle
# order, prefix-sum shard arithmetic) lands in the per-shard order
# fingerprint. This is the full published-recipe curation story in
# one plan: filter -> tier -> shuffle -> pack.
def _curation_v3_oracle() -> str:
    parts_ctes, _, _, keep_cond = _gopher_parts()
    return f"""
    WITH {parts_ctes},
    gate AS (SELECT s.doc_id FROM scal s LEFT JOIN rep r USING (doc_id)
             WHERE {keep_cond}),
    tok2 AS (SELECT d.doc_id, unnest({_WORDS_SQL}) AS term
             FROM documents d JOIN gate USING (doc_id)),
    tot2 AS (SELECT count(*) AS n_total FROM tok2),
    vocab2 AS (SELECT term, count(*) AS c FROM tok2 GROUP BY term),
    micro2 AS (SELECT doc_id,
                      CAST(round(ln(CAST(n_total AS DOUBLE) / c) * 1e6, 0) AS BIGINT)
                        AS m
               FROM tok2 JOIN vocab2 USING (term), tot2),
    scored2 AS (SELECT doc_id, count(*) AS n_tokens,
                       round(sum(m) / count(*) / 1e6, 6) AS surprisal
                FROM micro2 GROUP BY doc_id),
    nn2 AS (SELECT count(*) AS n FROM scored2),
    sel AS (SELECT doc_id, n_tokens FROM (
              SELECT doc_id, n_tokens,
                     CAST(floor((row_number() OVER (ORDER BY surprisal, doc_id) - 1)
                                * 3.0 / n) AS BIGINT) + 1 AS bucket
              FROM scored2, nn2)
            WHERE bucket <= 2),
    sh AS (SELECT doc_id, n_tokens,
                  row_number() OVER (
                    ORDER BY CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
                                  AS BIGINT),
                             doc_id) AS rk
           FROM sel),
    pre AS (SELECT doc_id, n_tokens, rk,
                   coalesce(sum(n_tokens) OVER (
                     ORDER BY rk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
            FROM sh)
    SELECT CAST(floor(p / 2000.0) AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rk)) AS order_fp
    FROM pre GROUP BY 1
    """


@query("q_curation_v3", oracle=_curation_v3_oracle())
def q_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import gopher_quality, perplexity_buckets
    from magicxml_spark.operators.sampling import pack_shards, seeded_shuffle

    docs = table(spark, sf_dir, "documents")
    # keep frame materializes before the filter (the r11 gate-shape
    # rule, r12's gate_on_computed API — see BASELINE r11)
    keep3 = gate_on_computed(
        gopher_quality(docs), ["doc_id", "keep"], F.col("keep")
    ).select("doc_id")
    kept = docs.join(keep3, "doc_id")
    buckets = perplexity_buckets(kept)
    sel = buckets.filter(F.col("bucket") <= 2).select("doc_id", "n_tokens")
    shuffled = seeded_shuffle(sel, "doc_id", 42)
    packed = pack_shards(shuffled, "shuffle_rank", "n_tokens", budget=2000.0)
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("shuffle_rank", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            )
        ).alias("order_fp"),
    )


# --- C4 document-level blocklist gate ----------------------------------------
# Whole-word blocklist hits injected deterministically (doc_id % 37 /
# % 41 append marker terms) so both engines score the identical
# corpus; placeholder terms stand in for the published list (the
# operator takes any list — the semantics are what is under test).
@query(
    "q_badwords_filter",
    oracle=f"""
    WITH aug AS (SELECT doc_id,
                        CASE WHEN doc_id % 37 = 0
                               THEN text || ' badword1 scan badword1'
                             WHEN doc_id % 41 = 0 THEN text || ' badword2'
                             ELSE text END AS text
                 FROM documents)
    SELECT doc_id,
           CAST(len(list_filter({_WORDS_SQL},
                                x -> x IN ('badword1', 'badword2'))) AS BIGINT)
             AS n_hits,
           CAST(CASE WHEN len(list_filter({_WORDS_SQL},
                                          x -> x IN ('badword1', 'badword2'))) = 0
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM aug
    """,
)
def q_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import badwords_filter

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.concat(F.col("text"), F.lit(" badword1 scan badword1")),
        )
        .when(F.col("doc_id") % 41 == 0, F.concat(F.col("text"), F.lit(" badword2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = badwords_filter(docs, ["badword1", "badword2"])
    return out.select(
        "doc_id", "n_hits", F.col("keep").cast("int").alias("keep")
    )


# --- DSIR importance resampling (Xie et al. 2023) -----------------------------
# Select crawl documents that look like a target domain: here the
# target is the corpus's English subset (a stand-in for "trusted
# docs riding in the same table"), raw is everything. Hashed
# unigram+bigram multinomials (md5-prefix buckets, m=4096), Laplace
# alpha=0.5, per-bucket micro-nat pre-rounding for engine-exact
# integer document weights, deterministic md5-seeded Gumbel-top-k
# (= sampling without replacement ~ softmax(log_w), paper §3).
@query(
    "q_dsir_select",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang = 'en' AS is_t, {_WORDS_SQL} AS w
               FROM documents),
    g AS (SELECT doc_id, is_t,
                 unnest(w || list_transform(range(1, len(w)),
                                            i -> w[i] || ' ' || w[i + 1])) AS gram
          FROM w WHERE len(w) > 0),
    b AS (SELECT doc_id, is_t, substr(md5(gram), 1, 3) AS bucket FROM g),
    cnt AS (SELECT bucket, count(*) AS cr,
                   sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
            FROM b GROUP BY bucket),
    tot AS (SELECT sum(cr) AS n_raw, sum(ct) AS n_tgt FROM cnt),
    ratio AS (SELECT bucket,
                     CAST(round((ln((ct + 0.5) / (n_tgt + 0.5 * 4096))
                               - ln((cr + 0.5) / (n_raw + 0.5 * 4096))) * 1e6,
                                0) AS BIGINT) AS m
              FROM cnt, tot),
    sc AS (SELECT doc_id, count(*) AS n_grams, sum(m) AS lw
           FROM b JOIN ratio USING (bucket) GROUP BY doc_id),
    filled AS (SELECT d.doc_id,
                    CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                    CAST(coalesce(lw, 0) AS BIGINT) AS lw
             FROM (SELECT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)),
    keyed AS (SELECT doc_id, n_grams, lw,
                     lw + CAST(round(-ln(-ln(
                           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS BIGINT) + 0.5) / 4294967296.0)) * 1e6, 0)
                               AS BIGINT) AS sel
              FROM filled)
    SELECT doc_id, n_grams,
           round(lw / 1e6, 6) AS log_w,
           round(sel / 1e6, 6) AS sel_key
    FROM keyed ORDER BY sel DESC, doc_id LIMIT 100
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dsir import dsir_select

    docs = table(spark, sf_dir, "documents")
    return dsir_select(
        docs, "doc_id", "text", F.col("lang") == "en", k=100
    )


# --- Frozen DSIR model lifecycle (Xie et al. 2023 deployed shape) -------------
# Fit the hashed-ngram importance model on the even-doc half (target =
# its English subset), WRITE it to parquet, score the odd half against
# the frozen counts — the crawl-scoring amortization pattern
# (q_lm_snapshot_score's class). The oracle replays the identical
# algebra: out-of-model buckets take the zero-count smoothed ratio.
@query(
    "q_dsir_model_score",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents),
    gtr AS (SELECT lang = 'en' AS is_t,
                   unnest(w || list_transform(range(1, len(w)),
                                              i -> w[i] || ' ' || w[i + 1])) AS gram
            FROM w WHERE len(w) > 0 AND doc_id % 2 = 0),
    btr AS (SELECT substr(md5(gram), 1, 3) AS bucket, count(*) AS cr,
                   sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
            FROM gtr GROUP BY 1),
    tot AS (SELECT sum(cr) AS n_raw, sum(ct) AS n_tgt FROM btr),
    ratio AS (SELECT bucket,
                     CAST(round((ln((ct + 0.5) / (n_tgt + 2048.0))
                               - ln((cr + 0.5) / (n_raw + 2048.0))) * 1e6,
                                0) AS BIGINT) AS m
              FROM btr, tot),
    oov AS (SELECT CAST(round((ln(0.5 / (n_tgt + 2048.0))
                             - ln(0.5 / (n_raw + 2048.0))) * 1e6, 0) AS BIGINT)
                     AS moov
            FROM tot),
    gsc AS (SELECT doc_id,
                   unnest(w || list_transform(range(1, len(w)),
                                              i -> w[i] || ' ' || w[i + 1])) AS gram
            FROM w WHERE len(w) > 0 AND doc_id % 2 = 1),
    bsc AS (SELECT doc_id, substr(md5(gram), 1, 3) AS bucket FROM gsc),
    sc AS (SELECT doc_id, count(*) AS n_grams,
                  sum(coalesce(m, moov)) AS lw
           FROM bsc LEFT JOIN ratio USING (bucket), oov GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
           round(CAST(coalesce(lw, 0) AS BIGINT) / 1e6, 6) AS log_w
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN sc USING (doc_id)
    """,
)
def q_dsir_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dsir import (
        score_with_dsir_model,
        write_dsir_model,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    model = _snapshot_scratch("dsir")
    write_dsir_model(train, model, F.col("lang") == "en")
    return score_with_dsir_model(batch, model)


# --- jusText boilerplate removal (Pomikalek 2011) -----------------------------
# Synthesized page per document (identical in both engines): two good
# body paragraphs, a short nav line between them (promoted by the
# context pass), an optional copyright line (killed), the real
# word-salad text as a long bad paragraph, and a trailing short nav
# line (dies at the bad/edge boundary). Exercises every class +
# both smoothing rules at corpus scale.
_JX_GOOD = (
    "the data is in the table and it is good that we have it with the "
    "rest of the set so that the story it tells is clear to all of us "
    "and we can be sure that the numbers are as they should be for the "
    "people who read them"
)
_JX_GOOD2 = (
    "it is easy to see that the set of rows in the table is the same "
    "as it was and that the people who read the story will be sure of "
    "the numbers as they are laid out for all of us to see in the end "
    "of the day"
)


def _justext_classify_ctes(
    src: str, member_sql: str | None = None, extra_cols: str = ""
) -> str:
    """The jusText classification CTE chain (split_p -> cls -> fin ->
    kept) reading (doc_id, text) from ``src`` — shared by
    q_justext_extract, q_curation_v4, and the v5/multilang
    compositions. ``member_sql`` overrides the stopword membership
    test (a boolean over lambda var ``x``, may reference outer
    columns, e.g. a per-language CASE on ``lang``); ``extra_cols``
    (e.g. ``", lang"``) rides columns the member test needs through
    split_p/cls."""
    from magicxml_spark.operators.extraction import (
        JUSTEXT_STOPWORDS,
        LENGTH_HIGH,
        LENGTH_LOW,
        STOPWORDS_HIGH,
        STOPWORDS_LOW,
    )

    if member_sql is None:
        stops = ", ".join(f"'{s}'" for s in JUSTEXT_STOPWORDS)
        member_sql = f"x IN ({stops})"
    words = "list_filter(string_split_regex(lower(p), '\\s+'), x -> x <> '')"
    dens = (
        f"CAST(len(list_filter({words}, x -> {member_sql})) AS DOUBLE)"
        f" / len({words})"
    )
    cls = f"""CASE
      WHEN contains(lower(p), 'copyright') OR contains(p, '©') THEN 'bad'
      WHEN len({words}) = 0 THEN 'bad'
      WHEN length(p) < {LENGTH_LOW} THEN 'short'
      WHEN {dens} >= {STOPWORDS_HIGH}
        THEN CASE WHEN length(p) > {LENGTH_HIGH} THEN 'good' ELSE 'neargood' END
      WHEN {dens} >= {STOPWORDS_LOW} THEN 'neargood'
      ELSE 'bad' END"""
    prev = "coalesce(list_filter(c0[1:i-1], c -> c IN ('good','bad'))[-1], 'bad')"
    nxt = (
        "coalesce(list_filter(c0[i+1:len(c0)], c -> c IN ('good','bad'))[1],"
        " 'bad')"
    )
    return f"""
    split_p AS (SELECT doc_id, text{extra_cols},
                       string_split(text, chr(10) || chr(10)) AS paras
                FROM {src}),
    cls AS (SELECT doc_id, text, paras,
                   list_transform(paras, p -> {cls}) AS c0
            FROM split_p),
    fin AS (SELECT doc_id, text, paras,
                   list_transform(range(1, len(paras) + 1), i -> CASE
                     WHEN c0[i] = 'short'
                       THEN CASE WHEN {prev} = 'good' AND {nxt} = 'good'
                                 THEN 'good' ELSE 'bad' END
                     WHEN c0[i] = 'neargood'
                       THEN CASE WHEN {prev} = 'good' OR {nxt} = 'good'
                                 THEN 'good' ELSE 'bad' END
                     ELSE c0[i] END) AS fc
            FROM cls),
    kept AS (SELECT doc_id, text, paras, fc,
                    list_filter(list_transform(range(1, len(paras) + 1),
                                               i -> CASE WHEN fc[i] = 'good'
                                                         THEN paras[i] END),
                                x -> x IS NOT NULL) AS keep_p
             FROM fin)"""


def _justext_ctes() -> str:
    """Full chain over the jusText synth corpus (synth -> ... -> kept)."""
    return f"""
    WITH synth AS (
      SELECT doc_id,
             concat_ws(chr(10) || chr(10),
               '{_JX_GOOD}',
               CASE WHEN doc_id % 3 = 0 THEN 'quick stats overview' END,
               '{_JX_GOOD2}',
               CASE WHEN doc_id % 5 = 0
                    THEN 'Copyright 2024 Example Corp. All rights reserved.' END,
               substr(text, 1, 150),
               CASE WHEN doc_id % 4 = 0 THEN 'contact us' END) AS text
      FROM documents),
    {_justext_classify_ctes("synth")}"""


def _justext_oracle() -> str:
    return f"""
    {_justext_ctes()}
    SELECT doc_id,
           CAST(len(paras) AS BIGINT) AS n_paras,
           CAST(len(keep_p) AS BIGINT) AS n_good,
           CASE WHEN length(text) > 0
                THEN round(CAST(coalesce(list_aggregate(
                       list_transform(keep_p, p -> length(p)), 'sum'), 0)
                       AS DOUBLE) / length(text), 4)
                ELSE 0.0 END AS main_frac,
           md5(array_to_string(keep_p, chr(10) || chr(10))) AS main_fp
    FROM kept
    """


@query("q_justext_extract", oracle=_justext_oracle())
def q_justext_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.extraction import justext_boilerplate

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # synthesis + the multi-pass tokenize classification otherwise
        # run at input-split parallelism (the _gopher_synth_spark fix)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sep = "\n\n"
    d = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat_ws(
            sep,
            F.lit(_JX_GOOD),
            F.when(d % 3 == 0, "quick stats overview"),
            F.lit(_JX_GOOD2),
            F.when(
                d % 5 == 0, "Copyright 2024 Example Corp. All rights reserved."
            ),
            F.substring("text", 1, 150),
            F.when(d % 4 == 0, "contact us"),
        ).alias("text"),
    )
    out = justext_boilerplate(synth)
    return out.select(
        "doc_id",
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.col("n_good").cast("bigint").alias("n_good"),
        "main_frac",
        F.md5("text_main").alias("main_fp"),
    )


# --- Composed curation v4: extraction -> importance selection -----------------
# The round-9 stages chained end-to-end: jusText boilerplate removal
# produces each page's main text, then DSIR importance resampling
# selects the 100 documents whose EXTRACTED text best matches the
# trusted half (target = even doc_ids) — the modern "extract, then
# select what looks like the target domain" recipe (RefinedWeb-style
# extraction feeding DSIR-style selection). Both engines run the
# identical composition; zero-gram documents survive into the keyed
# pool with weight 0 (only their Gumbel key ranks them).
def _dsir_select_ctes(src: str) -> str:
    """The DSIR importance-weight + Gumbel-key chain (target = even
    doc_ids, hash_chars=3, alpha=0.5) reading (doc_id, text) from
    ``src``; ends in ``dsir_keyed`` (doc_id, n_grams, lw, sel).
    Shared by q_curation_v4 and the v5 composition."""
    return f"""
    dsw AS (SELECT doc_id, {_WORDS_SQL} AS w FROM {src}),
    dsg AS (SELECT doc_id, doc_id % 2 = 0 AS is_t,
                  unnest(w || list_transform(range(1, len(w)),
                                             i -> w[i] || ' ' || w[i + 1])) AS gram
           FROM dsw WHERE len(w) > 0),
    dsb AS (SELECT doc_id, is_t, substr(md5(gram), 1, 3) AS bucket FROM dsg),
    dscnt AS (SELECT bucket, count(*) AS cr,
                    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
             FROM dsb GROUP BY bucket),
    dstot AS (SELECT sum(cr) AS n_raw, sum(ct) AS n_tgt FROM dscnt),
    dsratio AS (SELECT bucket,
                      CAST(round((ln((ct + 0.5) / (n_tgt + 2048.0))
                                - ln((cr + 0.5) / (n_raw + 2048.0))) * 1e6,
                                 0) AS BIGINT) AS m
               FROM dscnt, dstot),
    dssc AS (SELECT doc_id, count(*) AS n_grams, sum(m) AS lw
            FROM dsb JOIN dsratio USING (bucket) GROUP BY doc_id),
    dsfilled AS (SELECT d.doc_id,
                       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                       CAST(coalesce(lw, 0) AS BIGINT) AS lw
                FROM (SELECT doc_id FROM {src}) d LEFT JOIN dssc USING (doc_id)),
    dsir_keyed AS (SELECT doc_id, n_grams, lw,
                      lw + CAST(round(-ln(-ln(
                            (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                  AS BIGINT) + 0.5) / 4294967296.0)) * 1e6, 0)
                                AS BIGINT) AS sel
               FROM dsfilled)"""


def _curation_v4_oracle() -> str:
    return f"""
    {_justext_ctes()},
    main AS (SELECT doc_id,
                    array_to_string(keep_p, chr(10) || chr(10)) AS text
             FROM kept),
    {_dsir_select_ctes("main")}
    SELECT doc_id, n_grams,
           round(lw / 1e6, 6) AS log_w,
           round(sel / 1e6, 6) AS sel_key
    FROM dsir_keyed ORDER BY sel DESC, doc_id LIMIT 100
    """


@query("q_curation_v4", oracle=_curation_v4_oracle())
def q_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dsir import dsir_select
    from magicxml_spark.operators.extraction import justext_boilerplate

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sep = "\n\n"
    d = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat_ws(
            sep,
            F.lit(_JX_GOOD),
            F.when(d % 3 == 0, "quick stats overview"),
            F.lit(_JX_GOOD2),
            F.when(
                d % 5 == 0, "Copyright 2024 Example Corp. All rights reserved."
            ),
            F.substring("text", 1, 150),
            F.when(d % 4 == 0, "contact us"),
        ).alias("text"),
    )
    main = justext_boilerplate(synth).select(
        "doc_id", F.col("text_main").alias("text")
    )
    return dsir_select(
        main, "doc_id", "text", F.col("doc_id") % 2 == 0, k=100
    )


# --- Overlapping token-window chunking (RAG/embedding pre-step) ---------------
# 64-token windows advancing by 48 (16-token overlap); every token
# covered, deterministic at any partitioning. The md5 fingerprint pins
# each chunk's exact text.
@query(
    "q_chunk_documents",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w, len(w) AS n FROM w WHERE len(w) > 0),
    c AS (SELECT doc_id, w, n,
                 unnest(range(0, CAST(ceil(CAST(greatest(n - 16, 1) AS DOUBLE)
                                           / 48) AS BIGINT))) AS chunk_id
          FROM nz)
    SELECT doc_id,
           CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(chunk_id * 48 AS INTEGER) AS start_tok,
           CAST(len(w[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS INTEGER)
             AS n_tokens,
           md5(array_to_string(w[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' '))
             AS chunk_fp
    FROM c
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.extraction import chunk_documents

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out = chunk_documents(docs, chunk_tokens=64, overlap=16)
    return out.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        "n_tokens",
        F.md5("chunk_text").alias("chunk_fp"),
    )


# --- Token-exact sequence packing (pretraining pack) ---------------------------
# Concatenate documents in doc_id order into one token stream, cut
# into 512-token training sequences, documents splitting across
# boundaries. Two-phase prefix sum for the global offsets (never a
# single global window); in-row segment arithmetic + one posexplode.
@query(
    "q_pack_sequences",
    oracle=f"""
    WITH w AS (SELECT doc_id, len({_WORDS_SQL}) AS n FROM documents),
    nz AS (SELECT doc_id, CAST(n AS BIGINT) AS n FROM w WHERE n > 0),
    pre AS (SELECT doc_id, n,
                   CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS s
            FROM nz),
    seg AS (SELECT doc_id, n, s,
                   unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS seq_id
            FROM pre)
    SELECT doc_id, n AS n_tokens, seq_id,
           greatest(seq_id * 512 - s, 0) AS doc_from,
           least(n, (seq_id + 1) * 512 - s)
             - greatest(seq_id * 512 - s, 0) AS seg_len,
           greatest(s - seq_id * 512, 0) AS seq_off
    FROM seg
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sampling import pack_sequences

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))
        )
        .cast("long")
        .alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens", seq_len=512)


# --- Packed-sequence materialization ------------------------------------------
# The composition a trainer actually consumes: pack_sequences'
# segment metadata joined back to the token arrays, each sequence
# reassembled in seq_off order and fingerprinted — any divergence in
# offsets, splits, or ordering is a value mismatch on the exact
# packed byte stream. Sequences have bounded membership (a 512-token
# sequence spans at most 512 documents), so the groupBy(seq_id)
# collect_list is cap-bounded by construction.
@query(
    "q_pack_sequences_text",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM w
           WHERE len(w) > 0),
    pre AS (SELECT doc_id, w, n,
                   CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS s
            FROM nz),
    seg AS (SELECT doc_id, w, n, s,
                   unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS seq_id
            FROM pre),
    parts AS (SELECT seq_id,
                     greatest(s - seq_id * 512, 0) AS seq_off,
                     least(n, (seq_id + 1) * 512 - s)
                       - greatest(seq_id * 512 - s, 0) AS seg_len,
                     array_to_string(
                       w[greatest(seq_id * 512 - s, 0) + 1 :
                         CAST(least(n, (seq_id + 1) * 512 - s) AS BIGINT)],
                       ' ') AS part
              FROM seg)
    SELECT seq_id,
           CAST(sum(seg_len) AS BIGINT) AS n_tokens,
           count(*) AS n_docs,
           md5(string_agg(part, ' ' ORDER BY seq_off)) AS seq_fp
    FROM parts GROUP BY seq_id
    """,
)
def q_pack_sequences_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sampling import pack_sequences

    words = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        words.alias("w"),
        F.size(words).cast("long").alias("n_tokens"),
    )
    segs = pack_sequences(docs, "doc_id", "n_tokens", seq_len=512)
    parts = segs.select(
        "seq_id",
        "seq_off",
        "seg_len",
        F.array_join(
            F.slice("w", F.col("doc_from").cast("int") + 1,
                    F.col("seg_len").cast("int")),
            " ",
        ).alias("part"),
    )
    return parts.groupBy("seq_id").agg(
        F.sum("seg_len").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq_off", "part"))),
                    lambda s: s["part"],
                ),
                " ",
            )
        ).alias("seq_fp"),
    )

# --- Language identification (curation stage 0) --------------------------------
# The langid gate every published pipeline starts with (CCNet §4.1,
# C4 §2.2): script histogram + function-word vote, all-integer
# evidence so parity is exact. The synthetic corpus is DB-keyword
# soup, so most documents resolve via the en function words they
# contain and the rest read 'und' — the semantic pins (one fixture
# per script/language, hand-labeled) live in tests/test_langid.py.
def _lang_id_oracle() -> str:
    from magicxml_spark.operators.langid import langid_duckdb_ctes

    return f"""
    WITH {langid_duckdb_ctes("documents")}
    SELECT doc_id, script, lang, hits, margin, score, n_letters FROM lid
    """


@query("q_lang_id", oracle=_lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.langid import lang_id

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return lang_id(docs)


# --- Composed curation v5: the full FineWeb-shape pipeline --------------------
# Every published stage, ONE lazy plan (VERDICT r9 #5): langid gate
# (COMPUTED from text — the documents.lang column is never read) ->
# jusText boilerplate removal -> Gopher quality gate -> C4
# three-sentence-span dedup -> DSIR importance selection ->
# token-exact sequence packing. Both engines synthesize the identical
# corpus from pure integer/string arithmetic: per-doc UNIQUE
# 3-sentence English paragraphs (survive every stage and carry the
# DSIR signal), a SHARED boilerplate paragraph (its 3-sentence span
# repeats corpus-wide -> span-dedup keeps one doc's copy), a Gopher
# repetition bomb on doc%9 (stopword-dense so jusText keeps it; its
# repeated n-grams trip the dup-5gram cap so Gopher kills the doc),
# jusText kill material (copyright lines, keyword soup), and full
# German / Russian documents on doc%10 residues that the COMPUTED
# langid gate removes before any English-list heuristic runs.
_V5_BOILER = (
    "You should know that this is the part of the page that is the "
    "same on all of the pages. It is here so that we can see that "
    "the spans that repeat in the data are found and removed. We "
    "keep only the first of them and the rest of them are gone from "
    "the set."
)
_V5_DE = (
    "Der Hund und die Katze sind nicht mit dem Mann im Haus und sie "
    "werden auch nicht mit einem anderen Mann aus dem Dorf gehen."
)
_V5_RU = (
    "Наименование товара и цена не указаны на складе и это остаток "
    "который мы не можем продать в этом году."
)


def _curation_v5_oracle() -> str:
    from magicxml_spark.operators.langid import langid_duckdb_ctes

    gopher_ctes, _, _, gopher_keep = _gopher_parts(source="jxmain")
    uid = "'d' || CAST(doc_id AS VARCHAR)"
    s1 = (
        "'It is true that the ' || coalesce(w[1], 'row') || "
        "' and the ' || coalesce(w[2], 'key') || ' of ' || "
        f"{uid} || ' are in the set for us to see. '"
    )
    s2 = f"""CASE WHEN doc_id % 9 = 0
               THEN repeat('we do it and ', 12)
                    || 'so we know it is all done now in ' || {uid} || '.'
               ELSE 'We can be sure that they are as they should be '
                    || 'and we know it in ' || {uid} || '.' END"""
    s3 = (
        f"' The story of ' || {uid} || "
        "' is clear to all of us and it is a good one to read.'"
    )
    tok_n = (
        "len(list_filter(string_split_regex(lower(text), '\\s+'),"
        " x -> x <> ''))"
    )
    return f"""
    WITH v5w AS (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents),
    synthv5 AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN '{_V5_DE}'
                  WHEN doc_id % 10 = 3 THEN '{_V5_RU}'
                  ELSE concat_ws(chr(10) || chr(10),
                    '{_JX_GOOD}.',
                    CASE WHEN doc_id % 3 = 0 THEN 'quick stats overview' END,
                    {s1} || {s2} || {s3},
                    CASE WHEN doc_id % 5 = 0
                         THEN 'Copyright 2024 Example Corp. All rights reserved.' END,
                    '{_V5_BOILER}',
                    substr(text, 1, 150)) END AS text
      FROM v5w),
    {langid_duckdb_ctes("synthv5", max_chars=1000)},
    endocs AS MATERIALIZED (SELECT s.doc_id, s.text
               FROM synthv5 s JOIN lid l USING (doc_id)
               WHERE l.lang = 'en'),
    {_justext_classify_ctes("endocs")},
    jxmain AS MATERIALIZED (SELECT doc_id,
                      array_to_string(keep_p, chr(10) || chr(10)) AS text
               FROM kept),
    {gopher_ctes},
    gq_gate AS (SELECT s.doc_id FROM scal s LEFT JOIN rep r USING (doc_id)
                WHERE {gopher_keep}),
    gated AS MATERIALIZED (SELECT j.doc_id, j.text FROM jxmain j JOIN gq_gate USING (doc_id)),
    {_c4_span_ctes("gated")},
    cleaned AS MATERIALIZED (SELECT doc_id, array_to_string(kept, ' ') AS text
                FROM c4_rebuilt),
    {_dsir_select_ctes("cleaned")},
    sel AS MATERIALIZED (SELECT doc_id, n_grams, lw, sel FROM dsir_keyed
            ORDER BY sel DESC, doc_id LIMIT 100),
    pw AS (SELECT s.doc_id, s.n_grams, s.lw, s.sel,
                  CAST({tok_n} AS BIGINT) AS n
           FROM sel s JOIN cleaned c USING (doc_id)),
    pnz AS (SELECT * FROM pw WHERE n > 0),
    ppre AS (SELECT doc_id, n_grams, lw, sel, n,
                    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS p
             FROM pnz),
    pseg AS (SELECT doc_id, n_grams, lw, sel, n, p,
                    unnest(range(p // 128, (p + n - 1) // 128 + 1)) AS seq_id
             FROM ppre)
    SELECT doc_id, n_grams,
           round(lw / 1e6, 6) AS log_w,
           round(sel / 1e6, 6) AS sel_key,
           n AS n_tokens, seq_id,
           greatest(seq_id * 128 - p, 0) AS doc_from,
           least(n, (seq_id + 1) * 128 - p)
             - greatest(seq_id * 128 - p, 0) AS seg_len,
           greatest(p - seq_id * 128, 0) AS seq_off
    FROM pseg
    """


def _v5_synth_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v5 synthesis corpus — factored so the stage-effect pins in
    tests/test_pipeline_v5.py exercise the EXACT frame the registered
    query runs (a drifted copy would make the pins vacuous)."""
    from magicxml_spark.operators.text import tokens

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", tokens(F.col("text")).alias("w"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    d = F.col("doc_id")
    uid = F.concat(F.lit("d"), d.cast("string"))
    s1 = F.concat(
        F.lit("It is true that the "),
        F.coalesce(F.element_at("w", 1), F.lit("row")),
        F.lit(" and the "),
        F.coalesce(F.element_at("w", 2), F.lit("key")),
        F.lit(" of "),
        uid,
        F.lit(" are in the set for us to see. "),
    )
    s2 = F.when(
        d % 9 == 0,
        F.concat(
            F.repeat(F.lit("we do it and "), 12),
            F.lit("so we know it is all done now in "),
            uid,
            F.lit("."),
        ),
    ).otherwise(
        F.concat(
            F.lit("We can be sure that they are as they should be "),
            F.lit("and we know it in "),
            uid,
            F.lit("."),
        )
    )
    s3 = F.concat(
        F.lit(" The story of "),
        uid,
        F.lit(" is clear to all of us and it is a good one to read."),
    )
    eng = F.concat_ws(
        "\n\n",
        F.lit(_JX_GOOD + "."),
        F.when(d % 3 == 0, "quick stats overview"),
        F.concat(s1, s2, s3),
        F.when(d % 5 == 0, "Copyright 2024 Example Corp. All rights reserved."),
        F.lit(_V5_BOILER),
        F.substring("text", 1, 150),
    )
    return docs.select(
        "doc_id",
        F.when(d % 10 == 7, _V5_DE)
        .when(d % 10 == 3, _V5_RU)
        .otherwise(eng)
        .alias("text"),
    )


@query("q_curation_v5", oracle=_curation_v5_oracle())
def q_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import c4_span_dedup, gopher_quality
    from magicxml_spark.operators.dsir import dsir_select
    from magicxml_spark.operators.extraction import justext_boilerplate
    from magicxml_spark.operators.langid import with_lang
    from magicxml_spark.operators.sampling import pack_sequences
    from magicxml_spark.operators.text import tokens

    d = F.col("doc_id")
    synth = _v5_synth_spark(spark, sf_dir).localCheckpoint(eager=True)
    # Stage boundaries MATERIALIZE (localCheckpoint, not persist — the
    # CacheManager bench trap). Without this the composition is one
    # collapsed expression tree: gopher references the extracted text
    # ~15 times, each reference re-evaluating langid+jusText per row
    # (the reference-count cost model), and the codegen unit balloons
    # to a 10 MiB task binary — measured 152 s -> seconds at sf0.001.
    # The checkpointed frames are the compact (id, text) stage outputs
    # — exactly what a production pipeline persists between stages.
    # stage 0: langid COMPUTED from text (shuffle-free column append),
    # gate like C4 §2.2 gates on en
    # langid classifies on the 1000-char document prefix (the
    # production truncation knob — language is document-global; the
    # full-text scan cost 102 s of the stage's sf1 budget, the prefix
    # ~25 s, with identical gate decisions on this corpus by
    # construction: the injected foreign docs are short and every
    # English doc's first kilobyte is English prose)
    # gate_on_computed materializes (id, text, lang) BEFORE the gate
    # filter: a filter placed directly on with_lang's output is pushed
    # below the langid projections and the substituted predicate
    # re-evaluates the vote/score chains with no subexpression reuse —
    # measured r11 at sf1: filter-then-checkpoint 140-350 s vs this
    # shape 17-22 s (BASELINE r11; the API is r12's conversion of that
    # convention into a guarantee, linted by tests/test_gate_shape.py)
    en = gate_on_computed(
        with_lang(synth, max_chars=1000),
        ["doc_id", "text", "lang"],
        F.col("lang") == "en",
    ).select("doc_id", "text")
    # stage 1: boilerplate removal
    main = (
        justext_boilerplate(en)
        .select("doc_id", F.col("text_main").alias("text"))
        .localCheckpoint(eager=True)
    )
    # stage 2: Gopher quality gate — the keep frame materializes
    # before the filter (the langid gate-shape rule applied to every
    # expensive column-append gate; r11 probe: 40-48 -> 28-29 s for
    # the gopher+fineweb pair at sf1)
    gated = main.join(
        gate_on_computed(
            gopher_quality(main), ["doc_id", "keep"], F.col("keep")
        ).select("doc_id"),
        "doc_id",
    )
    # stage 3: corpus-wide 3-sentence-span dedup
    clean = c4_span_dedup(gated).select(
        "doc_id", F.col("text_dedup").alias("text")
    )
    # the cleaned corpus feeds THREE consumers (DSIR grams, DSIR id
    # frame, pack token counts)
    clean = clean.localCheckpoint(eager=True)
    # stage 4: DSIR importance selection toward the even-id target
    sel = dsir_select(clean, "doc_id", "text", d % 2 == 0, k=100)
    # stage 5: token-exact 128-token sequence packing of the selection
    counts = clean.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(
        sel.join(counts, "doc_id"), "doc_id", "n_tokens", seq_len=128
    )
    return packed.select(
        "doc_id",
        "n_grams",
        "log_w",
        "sel_key",
        "n_tokens",
        "seq_id",
        "doc_from",
        "seg_len",
        "seq_off",
    )


# --- BPE trainer (Sennrich et al. 2016 §3.2) ----------------------------------
# The tokenizer-lifecycle trainer: q_bpe_train runs 8 merge
# iterations over the documents vocabulary; the oracle UNROLLS the
# same 8 iterations as CTE steps (vocab -> pairs -> argmax -> rewrite,
# the VERDICT r9 #6 prescription), so merge choice, tie-break
# ('a\x01b' lexicographic on equal counts), min_count gating, and the
# winning counts are all value-checked.
_BPE_TRAIN_STEPS = 8


def _bpe_train_oracle() -> str:
    n_steps = _BPE_TRAIN_STEPS
    wrap = (
        "array_to_string(list_transform(range(1, length(w) + 1), "
        "i -> chr(2) || substring(w, i, 1) || chr(3)), '')"
    )
    ctes = [
        f"""v0 AS (
      SELECT {wrap} AS s, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_WORDS_SQL}) AS w FROM documents)
      GROUP BY w)"""
    ]
    for k in range(1, n_steps + 1):
        ctes.append(
            f"""p{k} AS (SELECT unnest(list_transform(range(1, len(a)),
                   i -> a[i] || chr(1) || a[i+1])) AS pr, freq
           FROM (SELECT string_split(substring(s, 2, length(s) - 2),
                                     chr(3) || chr(2)) AS a, freq
                 FROM v{k - 1}))"""
        )
        ctes.append(
            f"""b{k} AS (SELECT pr, CAST(sum(freq) AS BIGINT) AS c FROM p{k}
           GROUP BY pr HAVING sum(freq) >= 2 ORDER BY c DESC, pr LIMIT 1)"""
        )
        ctes.append(
            f"""v{k} AS (SELECT replace(s,
              chr(2) || string_split(pr, chr(1))[1] || chr(3) ||
              chr(2) || string_split(pr, chr(1))[2] || chr(3),
              chr(2) || replace(pr, chr(1), '') || chr(3)) AS s, freq
           FROM v{k - 1}, b{k})"""
        )
    finals = "\nUNION ALL\n".join(
        f"""SELECT {k} AS rank, string_split(pr, chr(1))[1] AS part_a,
               string_split(pr, chr(1))[2] AS part_b, c AS pair_count
        FROM b{k}"""
        for k in range(1, n_steps + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n" + finals


@query("q_bpe_train", oracle=_bpe_train_oracle())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.text import bpe_train

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(
        docs, max_merges=_BPE_TRAIN_STEPS, with_counts=True
    )
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, part_a string, part_b string, pair_count long",
    )


# --- Multilingual jusText: computed langid drives the stopword list -----------
# The langid -> per-language-extraction stage as an oracle-gated query
# (VERDICT r9 #7 upgraded beyond the pytest pin): each doc carries a
# GOOD paragraph in its residue-class language plus English keyword
# soup; the language is COMPUTED (with_lang), and jusText classifies
# with THAT language's function-word list — under the wrong list the
# good paragraph's density is ~0 and nothing survives, so the output
# value-checks the whole per-language mechanism.
_JXML_PARAS = {
    "en": _JX_GOOD,
    "de": (
        "der mann und die frau sind mit dem hund in dem haus und sie "
        "werden auch mit einem kind aus dem dorf zu der alten schule "
        "gehen wenn es nur noch schon kann und das ist auch schon "
        "alles was wir von der sache wissen und es ist nicht mehr und "
        "nicht weniger als das"
    ),
    "fr": (
        "le chat et le chien sont dans la maison avec les enfants et "
        "ils ne vont pas au marche avec une autre femme du village "
        "pour voir ce que les gens font sur la place et il est vrai "
        "que tout cela ne change pas grand chose pour nous ce jour"
    ),
    "ru": (
        "и вот он сказал что это не так и что мы не можем знать как "
        "это было на самом деле но если у нас есть время то мы будем "
        "думать о том что было и о том что будет и это всё что можно "
        "сказать о нашем деле в этом году"
    ),
}


def _justext_multilang_oracle() -> str:
    from magicxml_spark.operators.extraction import JUSTEXT_STOPWORDS_BY_LANG
    from magicxml_spark.operators.langid import langid_duckdb_ctes

    member = "CASE lang " + " ".join(
        f"WHEN '{lang}' THEN x IN ({', '.join(chr(39) + w + chr(39) for w in words)})"
        for lang, words in sorted(JUSTEXT_STOPWORDS_BY_LANG.items())
    ) + " ELSE false END"
    para_case = " ".join(
        f"WHEN {i} THEN '{_JXML_PARAS[lang]}'"
        for i, lang in enumerate(["en", "de", "fr", "ru"])
    )
    return f"""
    WITH synthml AS MATERIALIZED (
      SELECT doc_id,
             (CASE CAST(doc_id % 4 AS INT) {para_case} END)
               || chr(10) || chr(10) || substr(text, 1, 120) AS text
      FROM documents),
    {langid_duckdb_ctes("synthml")},
    langed AS MATERIALIZED (
      SELECT s.doc_id, s.text, l.lang
      FROM synthml s JOIN lid l USING (doc_id)),
    {_justext_classify_ctes("langed", member_sql=member, extra_cols=", lang")}
    SELECT k.doc_id, l.lang,
           CAST(len(k.paras) AS BIGINT) AS n_paras,
           CAST(len(k.keep_p) AS BIGINT) AS n_good,
           md5(array_to_string(k.keep_p, chr(10) || chr(10))) AS main_fp
    FROM kept k JOIN langed l USING (doc_id)
    """


@query("q_justext_multilang", oracle=_justext_multilang_oracle())
def q_justext_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.extraction import justext_boilerplate
    from magicxml_spark.operators.langid import with_lang

    d = F.col("doc_id")
    para = None
    for i, lang in enumerate(["en", "de", "fr", "ru"]):
        cond = (d % 4).cast("int") == i
        para = (
            F.when(cond, _JXML_PARAS[lang])
            if para is None
            else para.when(cond, _JXML_PARAS[lang])
        )
    synth = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(para, F.lit("\n\n"), F.substring("text", 1, 120)).alias(
                "text"
            ),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    langed = with_lang(synth).select("doc_id", "text", "lang").localCheckpoint(
        eager=True
    )
    out = justext_boilerplate(langed, lang_col="lang")
    return out.join(langed.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.col("n_good").cast("bigint").alias("n_good"),
        F.md5("text_main").alias("main_fp"),
    )


# --- FineWeb custom quality filters (Penedo et al. 2024 §3.6) -----------------
# The quality pass FineWeb adds on top of Gopher/C4. Both engines
# synthesize the identical line-structured corpus from pure integer
# arithmetic: 8-word '.'-terminated lines as the passing baseline,
# doc%7 strips ALL terminal punctuation (end-punct kill), doc%11
# leaves alternate lines bare (mid-range pass), doc%13 uses 2-word
# lines (short-line kill), doc%17 injects a repeated literal line
# every 3rd slot (duplicate-char kill), doc%19 joins lines with a
# triple newline (new-line-ratio kill).
_FW_DUP_LINE = "the same line shows up again and again here."


def _fineweb_fr_ctes(src: str) -> tuple[str, str]:
    """(CTE text, keep condition) for the FineWeb custom-filter
    battery reading (doc_id, text) from ``src``; ends in ``fwfr``
    (doc_id, n_lines, end_punct_frac, short_line_frac,
    dup_line_char_frac, new_line_ratio). Shared by q_fineweb_quality
    and the v6 composition — generated from the operator's own
    threshold constants so the rule set cannot drift."""
    from magicxml_spark.operators.curation import (
        FINEWEB_CHAR_DUP_THR,
        FINEWEB_LINE_PUNCT_THR,
        FINEWEB_NEW_LINE_THR,
        FINEWEB_SHORT_LINE_LENGTH,
        FINEWEB_SHORT_LINE_THR,
        FINEWEB_STOP_CHARS,
    )

    stop = ", ".join("'" + c.replace("'", "''") + "'" for c in FINEWEB_STOP_CHARS)
    charsum = "coalesce(list_sum(list_transform({0}, x -> length(x))), 0)"
    tot, firsts = charsum.format("ln"), charsum.format("list_distinct(ln)")
    keep = (
        f"end_punct_frac > {FINEWEB_LINE_PUNCT_THR}"
        f" AND short_line_frac < {FINEWEB_SHORT_LINE_THR}"
        f" AND dup_line_char_frac < {FINEWEB_CHAR_DUP_THR}"
        f" AND new_line_ratio < {FINEWEB_NEW_LINE_THR}"
    )
    ctes = f"""
    fwmet AS (SELECT doc_id,
      list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                  x -> x <> '') AS ln,
      len(string_split(text, chr(10))) - 1 AS n_nl,
      len({_WORDS_SQL}) AS n_words
      FROM {src}),
    fwfr AS (SELECT doc_id,
      CAST(len(ln) AS BIGINT) AS n_lines,
      CASE WHEN len(ln) = 0 THEN 0.0
           ELSE round(len(list_filter(ln, l -> right(l, 1) IN ({stop})))
                      * 1.0 / len(ln), 6) END AS end_punct_frac,
      CASE WHEN len(ln) = 0 THEN 0.0
           ELSE round(len(list_filter(ln,
                        l -> length(l) <= {FINEWEB_SHORT_LINE_LENGTH}))
                      * 1.0 / len(ln), 6) END AS short_line_frac,
      CASE WHEN {tot} = 0 THEN 0.0
           ELSE round(({tot} - {firsts}) * 1.0 / {tot}, 6)
      END AS dup_line_char_frac,
      CASE WHEN n_words > 0 THEN round(n_nl * 1.0 / n_words, 6)
           ELSE 0.0 END AS new_line_ratio
      FROM fwmet)"""
    return ctes, keep


def _fineweb_oracle() -> str:
    base = "array_to_string(w[(i-1)*wpl+1 : (i-1)*wpl+wpl], ' ')"
    fw_ctes, fw_keep = _fineweb_fr_ctes("synthfw2")
    return f"""
    WITH w0 AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    nz AS (SELECT doc_id, w,
                  CASE WHEN doc_id % 13 = 0 THEN 2 ELSE 8 END AS wpl
           FROM w0 WHERE len(w) > 0),
    synthfw AS (SELECT doc_id,
      array_to_string(
        list_transform(range(1, CAST(ceil(len(w) * 1.0 / wpl) AS BIGINT) + 1),
          i -> CASE
            WHEN doc_id % 17 = 0 AND (i - 1) % 3 = 2 THEN '{_FW_DUP_LINE}'
            WHEN doc_id % 7 = 0 THEN {base}
            WHEN doc_id % 11 = 0 AND (i - 1) % 2 = 1 THEN {base}
            ELSE {base} || '.' END),
        chr(10)) AS text0
      FROM nz),
    synthfw2 AS (SELECT doc_id,
      CASE WHEN doc_id % 19 = 0
           THEN replace(text0, chr(10), chr(10) || chr(10) || chr(10))
           ELSE text0 END AS text
      FROM synthfw),
    {fw_ctes}
    SELECT doc_id, n_lines, end_punct_frac, short_line_frac,
           dup_line_char_frac, new_line_ratio,
           CAST(CASE WHEN {fw_keep} THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM fwfr
    """


def _fineweb_synth_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.text import tokens

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") > 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    d = F.col("doc_id")
    wpl = F.when(d % 13 == 0, F.lit(2)).otherwise(F.lit(8))

    def mk_line(i):
        li = i - 1
        base = F.array_join(F.slice("w", (i - 1) * wpl + 1, wpl), " ")
        return (
            F.when((d % 17 == 0) & (li % 3 == 2), F.lit(_FW_DUP_LINE))
            .when(d % 7 == 0, base)
            .when((d % 11 == 0) & (li % 2 == 1), base)
            .otherwise(F.concat(base, F.lit(".")))
        )

    n_lines = F.ceil(F.size("w") / wpl.cast("double")).cast("int")
    joined = F.array_join(F.transform(F.sequence(F.lit(1), n_lines), mk_line), "\n")
    # array_join's delimiter must be a literal; lines never contain a
    # newline, so the doc%19 triple-newline join is a post-replace
    return docs.select(
        "doc_id",
        F.when(d % 19 == 0, F.replace(joined, F.lit("\n"), F.lit("\n\n\n")))
        .otherwise(joined)
        .alias("text"),
    )


@query("q_fineweb_quality", oracle=_fineweb_oracle())
def q_fineweb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import fineweb_quality

    out = fineweb_quality(_fineweb_synth_spark(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_lines",
        "end_punct_frac",
        "short_line_frac",
        "dup_line_char_frac",
        "new_line_ratio",
        F.col("keep").cast("int").alias("keep"),
    )


# --- Unicode / text normalization (VERDICT r10 "What's missing #1") -----------
# The pre-hash normalization stage (operators/normalize.py): both
# engines synthesize the same adversarial corpus from documents —
# NFD twins (e + U+0301) on doc%2, zero-width joiner material on
# doc%3, NBSP/ideographic spaces on doc%5, CRLF on doc%7, a BEL
# control on doc%11, plus trailing tab/space litter on every row —
# then normalize (NFC via Arrow-batched pandas UDF on the Spark side,
# DuckDB's utf8proc nfc_normalize on the oracle side; both UAX #15)
# and compare lengths + the md5 of the normalized text.
def _normalize_text_oracle() -> str:
    from magicxml_spark.operators.normalize import normalize_duckdb_expr

    norm = normalize_duckdb_expr("raw")
    return f"""
    WITH synth AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'cafe' || chr(769)
                  ELSE 'café' END
             || CASE WHEN doc_id % 5 = 0 THEN chr(160) || chr(12288)
                     ELSE repeat(' ', 2) END
             || CASE WHEN doc_id % 3 = 0 THEN 'he' || chr(8203) || 're'
                     ELSE 'here' END
             || CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END
             || ' ' || chr(9)
             || CASE WHEN doc_id % 7 = 0 THEN chr(13) || chr(10)
                     ELSE chr(10) END
             || substr(coalesce(text, ''), 1, 80)
             || repeat(' ', 2) || 'end ' AS raw
      FROM documents),
    normed AS (SELECT doc_id, raw, {norm} AS norm FROM synth)
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_raw,
           CAST(length(norm) AS BIGINT) AS n_norm,
           CAST(CASE WHEN raw <> norm THEN 1 ELSE 0 END AS INTEGER)
             AS changed,
           md5(norm) AS norm_fp
    FROM normed
    """


@query("q_normalize_text", oracle=_normalize_text_oracle())
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.normalize import norm_text_col

    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 2 == 0, F.concat(F.lit("cafe"), F.lit("\u0301"))).otherwise(
            F.lit("caf\u00e9")
        ),
        F.when(d % 5 == 0, F.lit("\u00a0\u3000")).otherwise(F.lit("  ")),
        F.when(d % 3 == 0, F.lit("he\u200bre")).otherwise(F.lit("here")),
        F.when(d % 11 == 0, F.lit("\x07")).otherwise(F.lit("")),
        F.lit(" \t"),
        F.when(d % 7 == 0, F.lit("\r\n")).otherwise(F.lit("\n")),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80),
        F.lit("  end "),
    )
    # pre-UDF repartition (the pre-explode scan-parallelism rule): the
    # Arrow NFC stage otherwise runs at the scan's split count (2 files
    # at sf1 caps it at 2 cores); the shuffled payload is the compact
    # (id, raw) frame. Measured sf1 forced: 1.99 s -> see BASELINE r11.
    synth = (
        table(spark, sf_dir, "documents")
        .select("doc_id", raw.alias("raw"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out = synth.withColumn("norm", norm_text_col(F.col("raw")))
    return out.select(
        "doc_id",
        F.length("raw").cast("long").alias("n_raw"),
        F.length("norm").cast("long").alias("n_norm"),
        (F.col("raw") != F.col("norm")).cast("int").alias("changed"),
        F.md5("norm").alias("norm_fp"),
    )


# --- Frozen paragraph/span dedup snapshots (VERDICT r10 Next #2) --------------
# The cross-crawl production shape on the correctness gate: the Spark
# side runs the REAL file lifecycle — write the prior crawl's hash
# snapshot to parquet (first 6 residues), APPEND two more residues,
# then dedup the delta (%10 >= 8) against the files. The oracle
# derives the same prior hash set inline (write ∪ append is exactly
# the distinct hash set of doc_id % 10 < 8 — the append==rebuild set
# identity the pytest lifecycle pins prove).
#
# Each lifecycle query has a *_probe twin (VERDICT r11 Next #7): same
# result, same oracle, but the snapshot builds ONCE per process per
# sf_dir so the driver/bench row records the STEADY-STATE probe cost
# (a production pipeline writes the snapshot once per crawl and probes
# every batch; the lifecycle queries keep the full write+append+probe
# cost in their own rows for the real-work record).
_PROBE_SNAPSHOTS: dict[tuple[str, str], str] = {}


def _probe_snapshot(name: str, sf_dir: str, build) -> str:
    """Build-once memo for probe-only snapshot twins: ``build(path)``
    runs on first use per (name, sf_dir) in this process; later calls
    reuse the files — the steady-state shape, measured honestly
    because bench's min-of-2 makes run 2 pure probe and the warm-up
    builds at the warm SF only."""
    key = (name, sf_dir)
    path = _PROBE_SNAPSHOTS.get(key)
    if path is None:
        path = _snapshot_scratch(name)
        build(path)
        _PROBE_SNAPSHOTS[key] = path
    return path


_SNAP_PARA_ORACLE = """
    WITH src AS (SELECT doc_id AS src_id, text AS para FROM documents
                 WHERE doc_id < 100),
    expl AS (SELECT d.doc_id, t.p, (d.doc_id * 3 + t.p) % 100 AS src_id
             FROM documents d, (SELECT unnest([0, 1, 2]) AS p) t),
    paras AS (SELECT e.doc_id, e.p AS pos, s.para, md5(s.para) AS ph
              FROM expl e JOIN src s USING (src_id)),
    prior AS (SELECT DISTINCT ph FROM paras WHERE doc_id % 10 < 8),
    delta AS (SELECT * FROM paras WHERE doc_id % 10 >= 8),
    ranked AS (SELECT doc_id, pos, para, ph,
                      row_number() OVER (PARTITION BY ph
                                         ORDER BY doc_id, pos) AS rn
               FROM delta),
    kept AS (SELECT r.doc_id, r.pos, r.para
             FROM ranked r LEFT JOIN prior p USING (ph)
             WHERE r.rn = 1 AND p.ph IS NULL),
    totals AS (SELECT doc_id, count(*) AS n_paras FROM delta
               GROUP BY doc_id),
    rebuilt AS (SELECT doc_id, count(*) AS n_kept,
                       md5(string_agg(para, chr(10) || chr(10)
                           ORDER BY pos)) AS dedup_fp
                FROM kept GROUP BY doc_id)
    SELECT t.doc_id, t.n_paras,
           coalesce(r.n_kept, 0) AS n_kept,
           coalesce(r.dedup_fp, md5('')) AS dedup_fp
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """


def _snap_para_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.filter(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("src_id"), F.col("text").alias("para")
    )
    return (
        docs.select(
            "doc_id",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("p"),
        )
        .withColumn("src_id", (F.col("doc_id") * 3 + F.col("p")) % 100)
        .join(F.broadcast(src), "src_id")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "para"))),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("text")
        )
    )


def _snap_para_out(synth: DataFrame, snap: str) -> DataFrame:
    from magicxml_spark.operators.curation import (
        paragraph_dedup_against_snapshot,
    )

    out = paragraph_dedup_against_snapshot(
        synth.filter(F.col("doc_id") % 10 >= 8), snap
    )
    return out.select(
        "doc_id", "n_paras", "n_kept", F.md5("text_dedup").alias("dedup_fp")
    )


def _snap_para_build(synth: DataFrame):
    from magicxml_spark.operators.curation import (
        append_paragraph_snapshot,
        write_paragraph_snapshot,
    )

    def build(path: str) -> None:
        write_paragraph_snapshot(synth.filter(F.col("doc_id") % 10 < 6), path)
        append_paragraph_snapshot(
            synth.filter(
                (F.col("doc_id") % 10 >= 6) & (F.col("doc_id") % 10 < 8)
            ),
            path,
        )

    return build


@query("q_snapshot_paragraph_dedup", oracle=_SNAP_PARA_ORACLE)
def q_snapshot_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    synth = _snap_para_synth(spark, sf_dir)
    snap = _snapshot_scratch("para_dedup")
    _snap_para_build(synth)(snap)
    return _snap_para_out(synth, snap)


@query("q_snapshot_paragraph_probe", oracle=_SNAP_PARA_ORACLE)
def q_snapshot_paragraph_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only twin: snapshot built once per process (see
    _probe_snapshot) — the row measures the O(delta) steady-state
    probe a production re-crawl pays per batch."""
    synth = _snap_para_synth(spark, sf_dir)
    snap = _probe_snapshot("para_probe", sf_dir, _snap_para_build(synth))
    return _snap_para_out(synth, snap)


_SNAP_SPAN_ORACLE = f"""
    WITH synth AS (
      SELECT doc_id,
             array_to_string(list_transform(
               range(0, CAST(doc_id % 5 + 1 AS INT)),
               j -> 'S' || CAST((CASE WHEN doc_id % 4 = 0 THEN doc_id * 900
                                      ELSE (doc_id * 3) % 50 END) + j AS VARCHAR)
                 || ' alpha beta.'), ' ') AS text
      FROM documents),
    {_c4_span_ctes("synth")},
    sp_prior AS (SELECT DISTINCT h FROM c4_spans WHERE doc_id % 10 < 8),
    sp_delta AS (SELECT * FROM c4_spans WHERE doc_id % 10 >= 8),
    sp_fresh AS (SELECT d.* FROM sp_delta d LEFT JOIN sp_prior p USING (h)
                 WHERE p.h IS NULL),
    sp_ranked AS (SELECT doc_id, start,
                         row_number() OVER (PARTITION BY h
                                            ORDER BY doc_id, start) AS rn,
                         count(*) OVER (PARTITION BY h) AS c
                  FROM sp_fresh),
    sp_kills AS (
      SELECT doc_id, list(start) AS ks FROM (
        SELECT d.doc_id, d.start FROM sp_delta d JOIN sp_prior p USING (h)
        UNION ALL
        SELECT doc_id, start FROM sp_ranked WHERE c > 1 AND rn > 1)
      GROUP BY doc_id),
    sp_rebuilt AS (
      SELECT se.doc_id,
             CAST(len(se.s) AS BIGINT) AS n_sentences,
             CASE WHEN k.ks IS NULL THEN se.s
                  ELSE list_filter(se.s, (x, i) -> NOT len(list_filter(
                    k.ks, kk -> i - 1 >= kk AND i - 1 <= kk + 2)) > 0)
             END AS kept
      FROM c4_sents se LEFT JOIN sp_kills k USING (doc_id)
      WHERE se.doc_id % 10 >= 8)
    SELECT doc_id, n_sentences, CAST(len(kept) AS BIGINT) AS n_kept,
           md5(coalesce(array_to_string(kept, ' '), '')) AS dedup_fp
    FROM sp_rebuilt
    """


def _snap_span_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    base = F.when(d % 4 == 0, d * 900).otherwise((d * 3) % 50)
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), (d % 5).cast("int")),
                lambda j: F.concat(
                    F.lit("S"),
                    (base + j).cast("string"),
                    F.lit(" alpha beta."),
                ),
            ),
        ).alias("text"),
    )


def _snap_span_out(synth: DataFrame, snap: str) -> DataFrame:
    from magicxml_spark.operators.curation import span_dedup_against_snapshot

    out = span_dedup_against_snapshot(
        synth.filter(F.col("doc_id") % 10 >= 8), snap
    )
    return out.select(
        "doc_id",
        "n_sentences",
        "n_kept",
        F.md5("text_dedup").alias("dedup_fp"),
    )


def _snap_span_build(synth: DataFrame):
    from magicxml_spark.operators.curation import (
        append_span_snapshot,
        write_span_snapshot,
    )

    d = F.col("doc_id")

    def build(path: str) -> None:
        write_span_snapshot(synth.filter(d % 10 < 6), path)
        append_span_snapshot(synth.filter((d % 10 >= 6) & (d % 10 < 8)), path)

    return build


@query("q_snapshot_span_dedup", oracle=_SNAP_SPAN_ORACLE)
def q_snapshot_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    synth = _snap_span_synth(spark, sf_dir)
    snap = _snapshot_scratch("span_dedup")
    _snap_span_build(synth)(snap)
    return _snap_span_out(synth, snap)


@query("q_snapshot_span_probe", oracle=_SNAP_SPAN_ORACLE)
def q_snapshot_span_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only twin of q_snapshot_span_dedup (see
    _probe_snapshot)."""
    synth = _snap_span_synth(spark, sf_dir)
    snap = _probe_snapshot("span_probe", sf_dir, _snap_span_build(synth))
    return _snap_span_out(synth, snap)


# --- Composed curation v6: the ACTUAL FineWeb recipe (Penedo 2024) ------------
# VERDICT r10 Next #3. Stage order follows the PAPER, not v5: langid
# gate WITH the score threshold (§3.2's fastText >= 0.65 analog,
# expressed through the r11 margin/score semantics) -> jusText
# extraction -> Gopher quality -> FineWeb custom filters (§3.6) ->
# MinHash fuzzy dedup (§3.4: per-snapshot MinHash, one survivor per
# near-dup cluster) -> DSIR selection -> 128-token packing. v5's C4
# span dedup is deliberately ABSENT: it belongs to the C4 recipe, not
# FineWeb's, and running it before MinHash would shred the cross-doc
# near-dup structure the MinHash stage exists to catch.
#
# The synthesis corpus is built for the full recipe (unlike v5's
# template-heavy corpus, which would make every doc a near-dup of
# every other): each doc's kept paragraphs interleave stopwords with
# doc-UNIQUE u-words ('u' || (doc_id*1009 + i*131) — coprime strides,
# provably collision-free across docs), so cross-doc Jaccard is ~0
# except where engineered. Residue classes:
#   d%10==3 / 7   -> full RU / DE docs (langid gate kills)
#   d%10==1       -> jusText-stopword-dense body with exactly 2+2
#                    langid-profile hits ('the'/'with') -> en WITHOUT
#                    the threshold, 'und' WITH it (the load-bearing
#                    score gate; margin/n_letters ~0.016 < 0.05)
#   d%9==0        -> Gopher repetition bomb appended to para 2
#   d%10==6       -> 36 short 'we uNNN' lines (FineWeb short-line +
#                    newline-ratio kill; survives jusText and Gopher)
#   d%10==5       -> near-duplicate of doc d-1 (same u-words except
#                    i==7) -> MinHash clusters {d-1, d}, keeps d-1
#   d%3==0 / 5==0 -> jusText kill material (uid'd keyword soup /
#                    copyright line), removed before MinHash
_V6_CYC1 = ["the", "of", "and", "is", "in", "to", "for", "on", "it", "at"]
_V6_CYC2 = ["that", "was", "are", "with", "this", "be", "have", "not",
            "from", "by"]
_V6_CYC3 = ["the", "to", "on", "it", "is", "of", "and", "in", "at", "for"]
_V6_JCYC1 = ["the", "we", "you", "their", "there", "can", "will", "would",
             "so", "if"]
_V6_JCYC2 = ["with", "they", "these", "those", "were", "has", "had",
             "been", "but", "or"]
_V6_JCYC3 = ["a", "an", "i", "he", "she", "no", "did", "does", "then",
             "its"]
_V6_MIN_SCORE = 0.05
_V6_BOMB_REPS = 24


def _v6_sql_para(cyc: list[str], jcyc: list[str], i0: int) -> str:
    """One 20-pair body paragraph: cycle word (class-1 docs use the
    jusText-only cycle) + the doc-unique u-word."""
    c = "[" + ", ".join(f"'{w}'" for w in cyc) + "]"
    j = "[" + ", ".join(f"'{w}'" for w in jcyc) + "]"
    bid = (
        "CASE WHEN doc_id % 10 = 5 AND i = 7 THEN doc_id"
        " WHEN doc_id % 10 = 5 THEN doc_id - 1 ELSE doc_id END"
    )
    return (
        f"array_to_string(list_transform(range({i0}, {i0 + 20}), i -> "
        f"(CASE WHEN doc_id % 10 = 1 THEN ({j})[(i % 10) + 1] "
        f"ELSE ({c})[(i % 10) + 1] END)"
        f" || ' u' || CAST(({bid}) * 1009 + i * 131 AS VARCHAR)), ' ')"
    )


def _curation_v6_oracle() -> str:
    from magicxml_spark.operators.langid import langid_duckdb_ctes

    gopher_ctes, _, _, gopher_keep = _gopher_parts(source="jx6main")
    fw_ctes, fw_keep = _fineweb_fr_ctes("gated6")
    p1 = _v6_sql_para(_V6_CYC1, _V6_JCYC1, 0)
    p2 = _v6_sql_para(_V6_CYC2, _V6_JCYC2, 20)
    p3 = _v6_sql_para(_V6_CYC3, _V6_JCYC3, 40)
    bomb = (
        f"' ' || repeat('we do it and ', {_V6_BOMB_REPS})"
        " || 'so it is done now.'"
    )
    listy = (
        "array_to_string(list_transform(range(60, 96), i -> "
        "'we u' || CAST(doc_id * 1009 + i * 131 AS VARCHAR)), chr(10))"
    )
    tok_n = (
        "len(list_filter(string_split_regex(lower(text), '\\s+'),"
        " x -> x <> ''))"
    )
    return f"""
    WITH RECURSIVE synthv6 AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN '{_V5_DE}'
                  WHEN doc_id % 10 = 3 THEN '{_V5_RU}'
                  ELSE concat_ws(chr(10) || chr(10),
                    {p1} || '.',
                    CASE WHEN doc_id % 3 = 0
                         THEN 'quick stats d' || CAST(doc_id AS VARCHAR)
                              || ' overview now' END,
                    {p2} || CASE WHEN doc_id % 9 = 0 THEN {bomb}
                                 ELSE '.' END,
                    CASE WHEN doc_id % 5 = 0
                         THEN 'Copyright 2024 Example Corp. All rights reserved.' END,
                    {p3} || '.',
                    CASE WHEN doc_id % 10 = 6 THEN {listy} END) END AS text
      FROM documents),
    {langid_duckdb_ctes("synthv6", max_chars=1000,
                        min_score=_V6_MIN_SCORE)},
    endocs6 AS MATERIALIZED (SELECT s.doc_id, s.text
               FROM synthv6 s JOIN lid l USING (doc_id)
               WHERE l.lang = 'en'),
    {_justext_classify_ctes("endocs6")},
    jx6main AS MATERIALIZED (SELECT doc_id,
                      array_to_string(keep_p, chr(10) || chr(10)) AS text
               FROM kept),
    {gopher_ctes},
    gq6_gate AS (SELECT s.doc_id FROM scal s LEFT JOIN rep r USING (doc_id)
                 WHERE {gopher_keep}),
    gated6 AS MATERIALIZED (SELECT j.doc_id, j.text
                FROM jx6main j JOIN gq6_gate USING (doc_id)),
    {fw_ctes},
    fwgated AS MATERIALIZED (SELECT g.doc_id, g.text
               FROM gated6 g JOIN fwfr f USING (doc_id)
               WHERE {fw_keep}),
    mh_w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM fwgated),
    mh_sh AS (SELECT doc_id,
                     list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                    i -> array_to_string(w[i:i+2], ' ')) AS sh
              FROM mh_w WHERE len(w) > 0),
    mh_sig AS (SELECT doc_id, b.band,
                      list_aggregate(list_transform(sh,
                        s -> substr(md5(s), 1 + b.band * 8, 8)),
                        'min') AS signature
               FROM mh_sh, (SELECT unnest(range(0, 4)) AS band) b),
    mh_pairs AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                 FROM mh_sig a JOIN mh_sig b2
                   ON a.band = b2.band AND a.signature = b2.signature
                  AND a.doc_id < b2.doc_id),
    mh_edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
                 UNION SELECT id_b, id_a FROM mh_pairs),
    mh_reach(id, r) AS (
      SELECT doc_id, doc_id FROM fwgated
      UNION
      SELECT e.dst, rr.r FROM mh_reach rr JOIN mh_edges e ON e.src = rr.id),
    mh_keep AS (SELECT id AS doc_id FROM mh_reach
                GROUP BY id HAVING min(r) = id),
    deduped AS MATERIALIZED (SELECT g.doc_id, g.text
               FROM fwgated g JOIN mh_keep USING (doc_id)),
    {_dsir_select_ctes("deduped")},
    sel AS MATERIALIZED (SELECT doc_id, n_grams, lw, sel FROM dsir_keyed
            ORDER BY sel DESC, doc_id LIMIT 100),
    pw AS (SELECT s.doc_id, s.n_grams, s.lw, s.sel,
                  CAST({tok_n} AS BIGINT) AS n
           FROM sel s JOIN deduped c USING (doc_id)),
    pnz AS (SELECT * FROM pw WHERE n > 0),
    ppre AS (SELECT doc_id, n_grams, lw, sel, n,
                    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS p
             FROM pnz),
    pseg AS (SELECT doc_id, n_grams, lw, sel, n, p,
                    unnest(range(p // 128, (p + n - 1) // 128 + 1)) AS seq_id
             FROM ppre)
    SELECT doc_id, n_grams,
           round(lw / 1e6, 6) AS log_w,
           round(sel / 1e6, 6) AS sel_key,
           n AS n_tokens, seq_id,
           greatest(seq_id * 128 - p, 0) AS doc_from,
           least(n, (seq_id + 1) * 128 - p)
             - greatest(seq_id * 128 - p, 0) AS seg_len,
           greatest(p - seq_id * 128, 0) AS seq_off
    FROM pseg
    """


def _v6_sp_para(cyc: list[str], jcyc: list[str], i0: int):
    d = F.col("doc_id")
    carr = F.array(*[F.lit(w) for w in cyc])
    jarr = F.array(*[F.lit(w) for w in jcyc])

    def word(i):
        bid = (
            F.when((d % 10 == 5) & (i == 7), d)
            .when(d % 10 == 5, d - 1)
            .otherwise(d)
        )
        cyc_w = F.when(d % 10 == 1, F.element_at(jarr, (i % 10) + 1)).otherwise(
            F.element_at(carr, (i % 10) + 1)
        )
        return F.concat(
            cyc_w, F.lit(" u"), (bid * 1009 + i * 131).cast("string")
        )

    return F.array_join(
        F.transform(F.sequence(F.lit(i0), F.lit(i0 + 19)), word), " "
    )


def _v6_synth_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v6 synthesis corpus — factored so the stage-effect pins in
    tests/test_pipeline_v6.py exercise the EXACT frame the registered
    query runs."""
    d = F.col("doc_id")
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    bomb = F.concat(
        F.lit(" "),
        F.repeat(F.lit("we do it and "), _V6_BOMB_REPS),
        F.lit("so it is done now."),
    )
    listy = F.array_join(
        F.transform(
            F.sequence(F.lit(60), F.lit(95)),
            lambda i: F.concat(
                F.lit("we u"), (d * 1009 + i * 131).cast("string")
            ),
        ),
        "\n",
    )
    eng = F.concat_ws(
        "\n\n",
        F.concat(_v6_sp_para(_V6_CYC1, _V6_JCYC1, 0), F.lit(".")),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("quick stats d"),
                d.cast("string"),
                F.lit(" overview now"),
            ),
        ),
        F.concat(
            _v6_sp_para(_V6_CYC2, _V6_JCYC2, 20),
            F.when(d % 9 == 0, bomb).otherwise(F.lit(".")),
        ),
        F.when(
            d % 5 == 0,
            F.lit("Copyright 2024 Example Corp. All rights reserved."),
        ),
        F.concat(_v6_sp_para(_V6_CYC3, _V6_JCYC3, 40), F.lit(".")),
        F.when(d % 10 == 6, listy),
    )
    return docs.select(
        "doc_id",
        F.when(d % 10 == 7, _V5_DE)
        .when(d % 10 == 3, _V5_RU)
        .otherwise(eng)
        .alias("text"),
    )


@query("q_curation_v6", oracle=_curation_v6_oracle())
def q_curation_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.analytics.clusters import dedup_clusters
    from magicxml_spark.operators.curation import fineweb_quality, gopher_quality
    from magicxml_spark.operators.dedup import lsh_candidate_pairs
    from magicxml_spark.operators.dsir import dsir_select
    from magicxml_spark.operators.extraction import justext_boilerplate
    from magicxml_spark.operators.langid import with_lang
    from magicxml_spark.operators.sampling import pack_sequences
    from magicxml_spark.operators.text import tokens

    d = F.col("doc_id")
    synth = _v6_synth_spark(spark, sf_dir).localCheckpoint(eager=True)
    # stage boundaries are compact (id, text) localCheckpoints — the
    # v5 rationale (collapsed-tree re-evaluation, CacheManager trap)
    # stage 0: langid gate with the SCORE THRESHOLD (CCNet/C4 gate
    # semantics via r11's margin/score columns)
    # gate_on_computed materializes (id, text, lang) BEFORE the gate
    # filter — the pushed-down predicate otherwise re-evaluates the
    # vote/score chains (350 s -> 17-22 s at sf1, BASELINE r11); with
    # min_score the blowup is worst because score+lang0 each embed the
    # chains
    en = gate_on_computed(
        with_lang(synth, max_chars=1000, min_score=_V6_MIN_SCORE),
        ["doc_id", "text", "lang"],
        F.col("lang") == "en",
    ).select("doc_id", "text")
    # stage 1: jusText extraction
    main = (
        justext_boilerplate(en)
        .select("doc_id", F.col("text_main").alias("text"))
        .localCheckpoint(eager=True)
    )
    # stage 2: Gopher gate — keep frames materialize before their
    # filters (the langid gate-shape rule; r11 probe 40-48 -> 28-29 s
    # for this stage pair at sf1)
    gated = main.join(
        gate_on_computed(
            gopher_quality(main), ["doc_id", "keep"], F.col("keep")
        ).select("doc_id"),
        "doc_id",
    )
    # stage 3: FineWeb custom quality gate (Penedo 2024 §3.6)
    # feeds signatures + the post-dedup rebuild: materialize once
    fwgated = gated.join(
        gate_on_computed(
            fineweb_quality(gated), ["doc_id", "keep"], F.col("keep")
        ).select("doc_id"),
        "doc_id",
    ).localCheckpoint(eager=True)
    # stage 4: MinHash fuzzy dedup (§3.4) — banded candidate pairs
    # (capped star emission is the production default; cluster
    # membership is identical to uncapped, the documented
    # q_lsh_pairs_capped property) -> connected components -> keep the
    # min-id doc per cluster
    pairs = lsh_candidate_pairs(fwgated, "doc_id", "text")
    clusters = dedup_clusters(
        fwgated.select(F.col("doc_id").alias("id")), pairs
    )
    keep_ids = clusters.filter(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    deduped = fwgated.join(keep_ids, "doc_id").localCheckpoint(eager=True)
    # stage 5: DSIR selection toward the even-id target
    sel = dsir_select(deduped, "doc_id", "text", d % 2 == 0, k=100)
    # stage 6: token-exact 128-token packing
    counts = deduped.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(
        sel.join(counts, "doc_id"), "doc_id", "n_tokens", seq_len=128
    )
    return packed.select(
        "doc_id",
        "n_grams",
        "log_w",
        "sel_key",
        "n_tokens",
        "seq_id",
        "doc_from",
        "seg_len",
        "seq_off",
    )


# --- Normalize -> exact dedup composition -------------------------------------
# The loop-closer for VERDICT r10 #1: normalization registered IN
# FRONT of a hash-keyed dedup on the driver gate (the pytest
# composition pin's oracle-checked twin). Four encoding variants of
# the same logical text — NFC, NFD (e + U+0301), zero-width-injected,
# NBSP-spaced — are synthesized per 4-doc group; exact_dedup's own
# whitespace normalization handles NONE of them (its \s is ASCII), so
# raw-side dedup sees four distinct fingerprints and the normalized
# side collapses each group to one keeper (pinned in
# tests/test_normalize.py).
def _normalize_dedup_oracle() -> str:
    from magicxml_spark.operators.normalize import normalize_duckdb_expr

    norm = normalize_duckdb_expr("raw")
    return f"""
    WITH src AS (SELECT doc_id AS src_id,
                        substr(coalesce(text, ''), 1, 100) AS base
                 FROM documents WHERE doc_id % 4 = 0),
    synthn AS (SELECT d.doc_id,
      CASE CAST(d.doc_id % 4 AS INTEGER)
        WHEN 0 THEN 'café ' || s.base
        WHEN 1 THEN 'cafe' || chr(769) || ' ' || s.base
        WHEN 2 THEN 'café' || chr(8203) || ' ' || s.base
        ELSE 'café' || chr(160) || s.base END AS raw
      FROM documents d JOIN src s ON s.src_id = d.doc_id - (d.doc_id % 4)),
    normedn AS (SELECT doc_id, {norm} AS norm FROM synthn)
    SELECT md5(trim(regexp_replace(lower(norm), '\\s+', ' ', 'g')))
             AS fingerprint,
           min(doc_id) AS keeper_id,
           count(*) AS n_dupes
    FROM normedn GROUP BY 1
    """


@query("q_normalize_dedup", oracle=_normalize_dedup_oracle())
def q_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import exact_dedup
    from magicxml_spark.operators.normalize import normalize_text

    d = F.col("doc_id")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.filter(d % 4 == 0).select(
        F.col("doc_id").alias("src_id"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 100).alias(
            "base"
        ),
    )
    raw = (
        F.when(d % 4 == 0, F.concat(F.lit("caf\u00e9 "), F.col("base")))
        .when(
            d % 4 == 1,
            F.concat(F.lit("cafe\u0301 "), F.col("base")),
        )
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
        .repartition(spark.sparkContext.defaultParallelism)
    )
    normed = normalize_text(synth, "raw")
    return exact_dedup(normed, "doc_id", "raw")


# --- Per-paragraph langid (mixed-document classification) ---------------------
# The doc-level argmax hides embedded foreign paragraphs; curation
# gates that drop or extract BY language need paragraph labels. Both
# engines synthesize mixed documents (en body + ru para on doc%3,
# de para on doc%5, a digits-only para on doc%7) and classify each
# paragraph with the same generated langid CTEs (id = a composite
# pid = doc_id * 64 + pos; paragraph counts are < 64 by
# construction).
_LIDP_EN = (
    "The cat sat on the mat and it was happy to be at home with the "
    "others of the house."
)


def _lang_id_paragraphs_oracle() -> str:
    from magicxml_spark.operators.langid import langid_duckdb_ctes

    return f"""
    WITH lidp_docs AS (
      SELECT doc_id,
             '{_LIDP_EN}'
             || CASE WHEN doc_id % 3 = 0
                     THEN chr(10) || chr(10) || '{_V5_RU}' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN chr(10) || chr(10) || '{_V5_DE}' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN chr(10) || chr(10) || '12345 67890' ELSE '' END
               AS text
      FROM documents),
    lidp0 AS (SELECT doc_id,
                     string_split(text, chr(10) || chr(10)) AS ps
              FROM lidp_docs),
    lidp1 AS (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i
              FROM lidp0),
    lidp_src AS (SELECT doc_id * 64 + (i - 1) AS pid, ps[i] AS para
                 FROM lidp1),
    {langid_duckdb_ctes("lidp_src", id_col="pid", text_col="para")}
    SELECT CAST(pid // 64 AS BIGINT) AS doc_id,
           CAST(pid % 64 AS INTEGER) AS pos,
           script, lang, hits, margin, score, n_letters
    FROM lid
    """


# --- Composed curation v7: paragraph-granularity curation (CCNet) -------------
# VERDICT r11 Next #1 — the last published-pipeline shape not yet
# composed: CCNet (Wenzek et al. 2020 §4.3) scores and filters PER
# PARAGRAPH (langid + frozen-LM surprisal), keeping the clean
# paragraphs of mixed documents where v5/v6's document-level gate
# would kill or keep them whole. Stage order: train a frozen bigram
# LM on the clean target corpus -> paragraph_curation (drop foreign +
# high-surprisal paragraphs, reassemble) -> the v6 gate stack's head
# (Gopher quality on the REASSEMBLED documents).
#
# Synthesis (both engines, pure integer/string arithmetic): every doc
# carries the four pool sentences (rotated by doc_id — 64 words, all
# Gopher scalars pass); residue classes inject the per-paragraph
# targets:
#   d%3==0 -> a full RU paragraph   (langid drops the PARAGRAPH; the
#             doc-level argmax still reads 'en' — the v6-contrast pin)
#   d%4==0 -> an OOV-dense but English-looking paragraph (5 function
#             words + 10 doc-unique 'zq' tokens): langid says 'en',
#             only the frozen-LM surprisal gate can drop it — a
#             single OOV token costs ln(4N) > 10 nats vs < 3 for
#             clean pool text, so the 4.0-nat gate separates at any
#             tested SF
#   d%9==0 -> a Gopher repetition bomb (pool sentence x10 in ONE
#             paragraph): clean language, seen bigrams -> SURVIVES
#             both paragraph gates, then the dup-ngram battery kills
#             the reassembled DOC — proving the doc-level stack still
#             bites after paragraph curation
_V7_POOL = [
    "the black cat walked slowly over the soft green mat and it was very glad indeed",
    "we could see that the story about the old stone house was truly good to read",
    "it seems true that the brown dog often ran toward the park and the happy man",
    "the bright sun was high and the long day was warm but the hard work ended",
]
_V7_MAX_SURPRISAL = 4.0
_V7_BOMB_REPS = 10
#: the noisy paragraph interleaves trained function words with OOV
#: slots: words[i] for i in 0..14, OOV at the non-multiple-of-3 slots
_V7_NOISY_KNOWN = ["the", "and", "was", "it", "that"]


def _v7_pool_case_sql(shift: int) -> str:
    arms = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_V7_POOL)
    )
    return f"CASE CAST((doc_id + {shift}) % 4 AS INTEGER) {arms} END"


def _v7_noisy_sql() -> str:
    parts = []
    k = 0
    for i, w in enumerate(_V7_NOISY_KNOWN):
        parts.append(f"'{w}'")
        parts.append(f"'zq' || CAST(doc_id * 13 + {k} AS VARCHAR)")
        k += 1
        parts.append(f"'zq' || CAST(doc_id * 13 + {k} AS VARCHAR)")
        k += 1
    return "concat_ws(' ', " + ", ".join(parts) + ")"


def _v7_core_ctes() -> str:
    """The WITH-body shared by q_curation_v7 and its streaming twin:
    synthesis -> paragraph split -> per-paragraph langid + frozen-JM
    bigram ladder -> keep decision -> reassembled docs (ends in
    ``v7re``: doc_id, n_paras, n_kept, text)."""
    from magicxml_spark.operators.langid import langid_duckdb_ctes

    p0, p2, p4, p6 = (_v7_pool_case_sql(s) for s in (0, 1, 2, 3))
    bomb = f"rtrim(repeat({_v7_pool_case_sql(0)} || ' ', {_V7_BOMB_REPS}))"
    words_para = _WORDS_SQL.replace("text", "para")
    # the frozen-JM bigram ladder over paragraph keys — the
    # _lm_snapshot_oracle expressions with (train=docs, score=paras)
    pos_list = (
        "unnest(list_transform(range(1, len(w) + 1),"
        " i -> CASE WHEN i > 1 THEN w[i - 1] END)) AS prev1,"
        " unnest(list_transform(range(1, len(w) + 1), i -> w[i])) AS cur,"
        " unnest(list_transform(range(1, len(w) + 1),"
        " i -> least(i, 2))) AS pos"
    )
    p1 = "CAST(coalesce(u.c1, 1) AS DOUBLE) / t.n_total"
    ladder2 = (
        f"0.75 * coalesce(CAST(b2.c2 AS DOUBLE) / g2.x2,"
        f" CAST(0.0 AS DOUBLE)) + 0.25 * ({p1})"
    )
    return f"""v7tr AS (SELECT doc_id, {_v7_pool_case_sql(0)} AS text
                  FROM documents),
    v7docs AS MATERIALIZED (
      SELECT doc_id,
             concat_ws(chr(10) || chr(10),
               {p0},
               CASE WHEN doc_id % 3 = 0 THEN '{_V5_RU}' END,
               {p2},
               CASE WHEN doc_id % 4 = 0 THEN {_v7_noisy_sql()} END,
               {p4},
               CASE WHEN doc_id % 9 = 0 THEN {bomb} END,
               {p6}) AS text
      FROM documents),
    v7ps AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
             FROM v7docs),
    v7pi AS (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i
             FROM v7ps),
    v7paras AS MATERIALIZED (
      SELECT doc_id * 64 + (i - 1) AS pid, doc_id,
             CAST(i - 1 AS INTEGER) AS pos, ps[i] AS para
      FROM v7pi),
    {langid_duckdb_ctes("v7paras", id_col="pid", text_col="para")},
    v7tw AS (SELECT doc_id, {_WORDS_SQL} AS w FROM v7tr),
    v7tp AS (SELECT doc_id, {pos_list}
             FROM v7tw WHERE len(w) > 0),
    v7t1 AS (SELECT cur, count(*) AS c1 FROM v7tp GROUP BY cur),
    v7tot AS (SELECT count(*) AS n_total FROM v7tp),
    v7t2 AS (SELECT prev1, cur, count(*) AS c2 FROM v7tp
             WHERE pos >= 2 GROUP BY prev1, cur),
    v7x2 AS (SELECT cur AS prev1, c1 AS x2 FROM v7t1),
    v7sw AS (SELECT pid, {words_para} AS w FROM v7paras),
    v7sp AS (SELECT pid, {pos_list}
             FROM v7sw WHERE len(w) > 0),
    v7mic AS (
      SELECT p.pid,
             CAST(round(-ln(CASE WHEN p.pos = 1 THEN {p1}
                            ELSE {ladder2} END) * 1e6, 0) AS BIGINT) AS m
      FROM v7sp p
      LEFT JOIN v7t1 u ON p.cur = u.cur
      LEFT JOIN v7t2 b2 ON p.prev1 = b2.prev1 AND p.cur = b2.cur
      LEFT JOIN v7x2 g2 ON p.prev1 = g2.prev1, v7tot t),
    v7sur AS (SELECT pid, round(sum(m) / count(*) / 1e6, 6) AS surprisal
              FROM v7mic GROUP BY pid),
    v7keep AS (
      SELECT pp.doc_id, pp.pos, pp.para,
             (l.lang = 'en'
              AND coalesce(s.surprisal <= {_V7_MAX_SURPRISAL}, FALSE))
               AS keep
      FROM v7paras pp
      JOIN lid l ON l.pid = pp.pid
      LEFT JOIN v7sur s ON s.pid = pp.pid),
    v7re AS MATERIALIZED (
      SELECT doc_id,
             count(*) AS n_paras,
             sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
             coalesce(array_to_string(
               list_filter(list(CASE WHEN keep THEN para END ORDER BY pos),
                           x -> x IS NOT NULL),
               chr(10) || chr(10)), '') AS text
      FROM v7keep GROUP BY doc_id)"""


def _curation_v7_oracle() -> str:
    gopher_ctes, _, _, gopher_keep = _gopher_parts(source="v7re")
    return f"""
    WITH {_v7_core_ctes()},
    {gopher_ctes},
    v7g AS (SELECT s.doc_id FROM scal s LEFT JOIN rep r USING (doc_id)
            WHERE {gopher_keep})
    SELECT v.doc_id,
           CAST(v.n_paras AS BIGINT) AS n_paras,
           CAST(v.n_kept AS BIGINT) AS n_kept,
           md5(v.text) AS text_fp
    FROM v7re v JOIN v7g USING (doc_id)
    """


def _v7_pool_col(shift: int) -> F.Column:
    d = F.col("doc_id")
    arr = F.array(*[F.lit(s) for s in _V7_POOL])
    return F.element_at(arr, ((d + shift) % 4 + 1).cast("int"))


def _v7_train_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clean target-domain corpus the frozen LM trains on: one
    pool sentence per document (every pool bigram seen ~SF/4 times)."""
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", _v7_pool_col(0).alias("text"))
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _v7_synth_cols(docs: DataFrame) -> DataFrame:
    """The mixed-document synthesis as a column transform over any
    (doc_id, ...) frame — shared by the batch query (over the table)
    and the streaming twin (per micro-batch)."""
    d = F.col("doc_id")
    noisy_parts = []
    k = 0
    for w in _V7_NOISY_KNOWN:
        noisy_parts.append(F.lit(w))
        for _ in range(2):
            noisy_parts.append(
                F.concat(F.lit("zq"), (d * 13 + k).cast("string"))
            )
            k += 1
    noisy = F.concat_ws(" ", *noisy_parts)
    bomb = F.array_join(
        F.array_repeat(_v7_pool_col(0), _V7_BOMB_REPS), " "
    )
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            _v7_pool_col(0),
            F.when(d % 3 == 0, F.lit(_V5_RU)),
            _v7_pool_col(1),
            F.when(d % 4 == 0, noisy),
            _v7_pool_col(2),
            F.when(d % 9 == 0, bomb),
            _v7_pool_col(3),
        ).alias("text"),
    )


def _v7_synth_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixed-document corpus — factored so the stage-effect pins
    in tests/test_pipeline_v7.py exercise the EXACT frame the
    registered query runs."""
    return _v7_synth_cols(
        table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
    )


@query("q_curation_v7", oracle=_curation_v7_oracle())
def q_curation_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.curation import (
        gopher_quality,
        paragraph_curation,
        write_lm_snapshot,
    )

    snap = _snapshot_scratch("v7lm2")
    write_lm_snapshot(_v7_train_spark(spark, sf_dir), snap, order=2)
    synth = _v7_synth_spark(spark, sf_dir).localCheckpoint(eager=True)
    # paragraph-granularity curation: drop foreign + high-surprisal
    # paragraphs, reassemble; the output feeds TWO consumers (the
    # Gopher gate and the final join) — materialize once
    cur = paragraph_curation(
        synth, snap, keep_lang="en", max_surprisal=_V7_MAX_SURPRISAL
    ).localCheckpoint(eager=True)
    # the v6 gate stack's head over the REASSEMBLED documents
    kept = gate_on_computed(
        gopher_quality(cur, text_col="text_kept"),
        ["doc_id", "keep"],
        F.col("keep"),
    ).select("doc_id")
    return cur.join(kept, "doc_id").select(
        "doc_id",
        "n_paras",
        "n_kept",
        F.md5("text_kept").alias("text_fp"),
    )


@query("q_lang_id_paragraphs", oracle=_lang_id_paragraphs_oracle())
def q_lang_id_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.langid import lang_id_paragraphs

    d = F.col("doc_id")
    synth = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(_LIDP_EN),
            F.when(d % 3 == 0, F.concat(F.lit("\n\n"), F.lit(_V5_RU))).otherwise(
                F.lit("")
            ),
            F.when(d % 5 == 0, F.concat(F.lit("\n\n"), F.lit(_V5_DE))).otherwise(
                F.lit("")
            ),
            F.when(d % 7 == 0, F.lit("\n\n12345 67890")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = lang_id_paragraphs(synth)
    return out.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        "script",
        "lang",
        "hits",
        "margin",
        "score",
        "n_letters",
    )


# --- Frozen tokenizer lifecycle (VERDICT r11 Next #3/#4) ----------------------
# q_bpe_model_apply: train -> write_bpe_model -> bpe_apply_from_model,
# the tokenizer twin of the LM-snapshot lifecycle. The oracle UNROLLS
# the same training steps as q_bpe_train (carrying each vocab word
# through the rewrite chain) and then APPLIES the final vocab
# segmentation back to every document — so the frozen-table plumbing
# (write, rank-ordered read, dispatch) is value-checked end to end:
# any drift lands in seg_fp.


def _bpe_model_apply_oracle() -> str:
    n_steps = _BPE_TRAIN_STEPS
    wrap = (
        "array_to_string(list_transform(range(1, length(word) + 1), "
        "i -> chr(2) || substring(word, i, 1) || chr(3)), '')"
    )
    ctes = [
        f"""v0 AS (
      SELECT w AS word, {wrap.replace("word", "w")} AS s,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_WORDS_SQL}) AS w FROM documents)
      GROUP BY w)"""
    ]
    for k in range(1, n_steps + 1):
        ctes.append(
            f"""p{k} AS (SELECT unnest(list_transform(range(1, len(a)),
                   i -> a[i] || chr(1) || a[i+1])) AS pr, freq
           FROM (SELECT string_split(substring(s, 2, length(s) - 2),
                                     chr(3) || chr(2)) AS a, freq
                 FROM v{k - 1}))"""
        )
        ctes.append(
            f"""b{k} AS (SELECT pr, CAST(sum(freq) AS BIGINT) AS c FROM p{k}
           GROUP BY pr HAVING sum(freq) >= 2 ORDER BY c DESC, pr LIMIT 1)"""
        )
        # LEFT JOIN ON TRUE: an empty b{k} (early stop) must leave the
        # vocab unchanged, not annihilate it via an empty cross join
        ctes.append(
            f"""v{k} AS (SELECT word,
              CASE WHEN pr IS NULL THEN s ELSE replace(s,
                chr(2) || string_split(pr, chr(1))[1] || chr(3) ||
                chr(2) || string_split(pr, chr(1))[2] || chr(3),
                chr(2) || replace(pr, chr(1), '') || chr(3)) END AS s, freq
           FROM v{k - 1} LEFT JOIN b{k} ON TRUE)"""
        )
    ctes_sql = ",\n    ".join(ctes)
    return f"""
    WITH {ctes_sql},
    vmap AS (SELECT word,
                    replace(replace(replace(s, chr(3) || chr(2), ' '),
                                    chr(2), ''), chr(3), '') AS seg
             FROM v{n_steps}),
    dw AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    dpos AS (SELECT doc_id, i, w[i] AS wd
             FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
                   FROM dw)),
    dseg AS (SELECT d.doc_id, d.i, m.seg
             FROM dpos d JOIN vmap m ON m.word = d.wd),
    agg AS (SELECT doc_id, list(seg ORDER BY i) AS segs
            FROM dseg GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(len(w.w) AS BIGINT) AS n_words,
           CAST(length(array_to_string(w.w, '')) AS BIGINT) AS n_chars,
           CAST(coalesce(list_sum(list_transform(a.segs,
                                                 s -> len(string_split(s, ' ')))),
                         0) AS BIGINT) AS n_subwords,
           md5(coalesce(array_to_string(a.segs, ' | '), '')) AS seg_fp
    FROM dw w LEFT JOIN agg a USING (doc_id)
    """


@query("q_bpe_model_apply", oracle=_bpe_model_apply_oracle())
def q_bpe_model_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer lifecycle: train the same 8-step table as
    q_bpe_train, FREEZE it (write_bpe_model), and segment the corpus
    through the frozen artifact (bpe_apply_from_model) — the artifact
    round-trip is in the plan, so a rank-ordering or dispatch bug in
    the model store is a value mismatch, not a silent drift. No
    append lifecycle exists by design: merges are order-sensitive
    (rank k conditions on merges < k), so frozen tables retrain like
    the KN snapshots."""
    from magicxml_spark.operators.text import (
        bpe_apply_from_model,
        bpe_train,
        write_bpe_model,
    )

    docs = table(spark, sf_dir, "documents")
    merges = bpe_train(docs, max_merges=_BPE_TRAIN_STEPS)
    path = _snapshot_scratch("bpe_model")
    write_bpe_model(spark, merges, path, level="char")
    return bpe_apply_from_model(docs, path)


# q_bpe_bytes: the byte-level (GPT-2-class) tokenizer under the
# driver gate (VERDICT r11 Next #4). The GPT-2 pre-tokenizer has no
# RE2 spelling, so the synthesis corpus is built from single-space
# ASCII words + one Cyrillic word + one digit run whose
# pre-tokenization is known BY CONSTRUCTION, and the oracle constructs
# the byte-symbol words directly (the mapped literals come from the
# SAME bytes_to_unicode table the operator uses) then replays the
# frozen 40-merge table as a sentinel-anchored replace chain — the
# pre-tokenizer runs Spark-side only, but its OUTPUT is pinned
# cross-engine via n_pretokens/n_bytes/seg_fp.
_BPE_BYTES_SENT = "the quick brown fox jumps over the lazy dog привет 2024 u"


def _bpe_bytes_oracle() -> str:
    from magicxml_spark.operators.text import (
        BPE_BYTES_FROZEN_MERGES,
        byte_words,
        bytes_to_unicode,
    )

    b2u = bytes_to_unicode()
    fixed = byte_words(_BPE_BYTES_SENT[:-2], b2u)  # strip ' u'
    lits = ", ".join("'" + w.replace("'", "''") + "'" for w in fixed)
    uword = (
        "'Ġu' || translate(CAST(doc_id AS VARCHAR),"
        " '0123456789', 'abcdefghij')"
    )
    inner = (
        "array_to_string(list_transform(range(1, length(wd) + 1),"
        " i -> chr(2) || substr(wd, i, 1) || chr(3)), '')"
    )
    for a, b in BPE_BYTES_FROZEN_MERGES:
        pat = f"chr(2) || '{a}' || chr(3) || chr(2) || '{b}' || chr(3)"
        rep = f"chr(2) || '{a}{b}' || chr(3)"
        inner = f"replace({inner}, {pat}, {rep})"
    inner = (
        f"replace(replace(replace({inner}, chr(3) || chr(2), ' '),"
        f" chr(2), ''), chr(3), '')"
    )
    return f"""
    WITH bw AS (SELECT doc_id, [{lits}, {uword}] AS w FROM documents),
    seg AS (SELECT doc_id, len(w) AS n_pretokens,
                   CAST(coalesce(list_sum(list_transform(w, x -> length(x))),
                                 0) AS BIGINT) AS n_bytes,
                   list_transform(w, wd -> {inner}) AS segs
            FROM bw)
    SELECT doc_id,
           CAST(n_pretokens AS BIGINT) AS n_pretokens,
           n_bytes,
           CAST(coalesce(list_sum(list_transform(segs,
                                                 s -> len(string_split(s, ' ')))),
                         0) AS BIGINT) AS n_subwords,
           md5(array_to_string(segs, ' | ')) AS seg_fp
    FROM seg
    """


@query("q_bpe_bytes", oracle=_bpe_bytes_oracle())
def q_bpe_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE over a pre-tokenization-known corpus: every doc
    is one sentence of single-space words (11 shared pre-tokens
    including a multi-byte Cyrillic word and a digit run, plus one
    doc-unique letters-only word), segmented with the FROZEN
    fixture-trained 40-merge table
    (text.py BPE_BYTES_FROZEN_MERGES, provenance-pinned). The Arrow
    apply loop and the oracle's rank-order replace chain coincide by
    the documented training-order equivalence."""
    from magicxml_spark.operators.text import (
        BPE_BYTES_FROZEN_MERGES,
        bpe_apply_bytes_pandas,
    )

    d = F.col("doc_id")
    synth = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(
                F.lit(_BPE_BYTES_SENT),
                F.translate(d.cast("string"), "0123456789", "abcdefghij"),
            ).alias("text"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return bpe_apply_bytes_pandas(synth, merges=BPE_BYTES_FROZEN_MERGES)


# --- Probe-only twins for the remaining write-penalty ledger entries ----------
# Same pattern as q_snapshot_*_probe: the frozen artifact builds once
# per process (outside the repeated-measure path), the row records the
# steady-state scoring cost — the number a production pipeline pays
# per batch against an already-frozen model.


@query("q_lm_snapshot_probe", oracle=_lm_snapshot_oracle(order=3, floor=2))
def q_lm_snapshot_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only twin of q_lm_snapshot_score: the trigram snapshot
    trains once per process; the row is pure frozen-LM scoring."""
    from magicxml_spark.operators.curation import (
        score_with_lm_snapshot,
        write_lm_snapshot,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    snap = _probe_snapshot(
        "lm3_probe",
        sf_dir,
        lambda p: write_lm_snapshot(train, p, order=3, count_floor=2),
    )
    return score_with_lm_snapshot(docs.filter(F.col("doc_id") % 2 == 1), snap)


def _stream_para_cur_oracle() -> str:
    return f"""
    WITH {_v7_core_ctes()}
    SELECT doc_id,
           CAST(n_paras AS BIGINT) AS n_paras,
           CAST(n_kept AS BIGINT) AS n_kept,
           md5(text) AS text_fp
    FROM v7re
    """


@query("q_stream_paragraph_curation", oracle=_stream_para_cur_oracle())
def q_stream_paragraph_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the v7 paragraph stage: the same synthesis
    corpus arrives as a document STREAM and each micro-batch runs the
    full paragraph decision statelessly against the frozen bigram LM
    (document-local math — no cross-batch state). The oracle is the
    v7 core WITHOUT the doc-level Gopher gate, so stream == batch ==
    DuckDB pins the per-paragraph semantics on their own."""
    from magicxml_spark.operators.curation import write_lm_snapshot
    from magicxml_spark.streaming.lm import run_stream_paragraph_curation

    snap = _probe_snapshot(
        "v7lm2_stream",
        sf_dir,
        lambda p: write_lm_snapshot(
            _v7_train_spark(spark, sf_dir), p, order=2
        ),
    )
    return run_stream_paragraph_curation(
        spark,
        sf_dir,
        snap,
        out_dir=_snapshot_scratch("para_cur_out"),
        keep_lang="en",
        max_surprisal=_V7_MAX_SURPRISAL,
        synth=lambda batch: _v7_synth_cols(batch.select("doc_id")),
    )


# --- Composed curation v8: the FineWeb stack at paragraph granularity ---------
# v6's document-level langid gate replaced by the r12 paragraph stage:
# per-paragraph score-gated langid -> drop foreign/low-confidence
# paragraphs -> reassemble -> Gopher -> FineWeb -> MinHash cluster
# dedup -> DSIR -> 128-token packing. The corpus is v6's with two
# deltas that make the granularity LOAD-BEARING:
#   d%10==3 -> an en doc with an EMBEDDED RU paragraph (v6's full-RU
#              class): the paragraph stage drops the quote and the doc
#              SURVIVES to the output — v6's doc-level gate killed it
#              whole, so these doc_ids appearing in the result IS the
#              non-vacuity proof
#   d%10==6 -> the listy para spells 'of uNNN' (en-profile hit) so it
#              PASSES the paragraph gate and FineWeb's short-line rule
#              still gets its kill class
# jusText is deliberately absent: on this corpus the paragraph-langid
# stage subsumes its boilerplate kills (the soup/copyright paras score
# 'und' and drop — measured verdicts in the r12 probe), and extraction
# belongs UPSTREAM of language gating in the published recipes; v5/v6
# keep the jusText arm under the gate.


def _v8_listy_sql() -> str:
    return (
        "array_to_string(list_transform(range(60, 96), i -> "
        "'of u' || CAST(doc_id * 1009 + i * 131 AS VARCHAR)), chr(10))"
    )


def _curation_v8_oracle() -> str:
    from magicxml_spark.operators.langid import langid_duckdb_ctes

    gopher_ctes, _, _, gopher_keep = _gopher_parts(source="v8re")
    fw_ctes, fw_keep = _fineweb_fr_ctes("g8")
    p1 = _v6_sql_para(_V6_CYC1, _V6_JCYC1, 0)
    p2 = _v6_sql_para(_V6_CYC2, _V6_JCYC2, 20)
    p3 = _v6_sql_para(_V6_CYC3, _V6_JCYC3, 40)
    bomb = (
        f"' ' || repeat('we do it and ', {_V6_BOMB_REPS})"
        " || 'so it is done now.'"
    )
    tok_n = (
        "len(list_filter(string_split_regex(lower(text), '\\s+'),"
        " x -> x <> ''))"
    )
    return f"""
    WITH RECURSIVE synthv8 AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN '{_V5_DE}'
                  ELSE concat_ws(chr(10) || chr(10),
                    {p1} || '.',
                    CASE WHEN doc_id % 10 = 3 THEN '{_V5_RU}' END,
                    CASE WHEN doc_id % 3 = 0
                         THEN 'quick stats d' || CAST(doc_id AS VARCHAR)
                              || ' overview now' END,
                    {p2} || CASE WHEN doc_id % 9 = 0 THEN {bomb}
                                 ELSE '.' END,
                    CASE WHEN doc_id % 5 = 0
                         THEN 'Copyright 2024 Example Corp. All rights reserved.' END,
                    {p3} || '.',
                    CASE WHEN doc_id % 10 = 6 THEN {_v8_listy_sql()} END) END
               AS text
      FROM documents),
    v8ps AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
             FROM synthv8),
    v8pi AS (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i
             FROM v8ps),
    v8paras AS MATERIALIZED (
      SELECT doc_id * 64 + (i - 1) AS pid, doc_id,
             CAST(i - 1 AS INTEGER) AS pos, ps[i] AS para
      FROM v8pi),
    {langid_duckdb_ctes("v8paras", id_col="pid", text_col="para",
                        max_chars=1000, min_score=_V6_MIN_SCORE)},
    v8keep AS (SELECT pp.doc_id, pp.pos, pp.para, l.lang = 'en' AS keep
               FROM v8paras pp JOIN lid l ON l.pid = pp.pid),
    v8re AS MATERIALIZED (
      SELECT doc_id,
             coalesce(array_to_string(
               list_filter(list(CASE WHEN keep THEN para END ORDER BY pos),
                           x -> x IS NOT NULL),
               chr(10) || chr(10)), '') AS text
      FROM v8keep GROUP BY doc_id),
    {gopher_ctes},
    gq8_gate AS (SELECT s.doc_id FROM scal s LEFT JOIN rep r USING (doc_id)
                 WHERE {gopher_keep}),
    g8 AS MATERIALIZED (SELECT r8.doc_id, r8.text
              FROM v8re r8 JOIN gq8_gate USING (doc_id)),
    {fw_ctes},
    fwgated8 AS MATERIALIZED (SELECT g.doc_id, g.text
               FROM g8 g JOIN fwfr f USING (doc_id)
               WHERE {fw_keep}),
    mh_w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM fwgated8),
    mh_sh AS (SELECT doc_id,
                     list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                    i -> array_to_string(w[i:i+2], ' ')) AS sh
              FROM mh_w WHERE len(w) > 0),
    mh_sig AS (SELECT doc_id, b.band,
                      list_aggregate(list_transform(sh,
                        s -> substr(md5(s), 1 + b.band * 8, 8)),
                        'min') AS signature
               FROM mh_sh, (SELECT unnest(range(0, 4)) AS band) b),
    mh_pairs AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                 FROM mh_sig a JOIN mh_sig b2
                   ON a.band = b2.band AND a.signature = b2.signature
                  AND a.doc_id < b2.doc_id),
    mh_edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
                 UNION SELECT id_b, id_a FROM mh_pairs),
    mh_reach(id, r) AS (
      SELECT doc_id, doc_id FROM fwgated8
      UNION
      SELECT e.dst, rr.r FROM mh_reach rr JOIN mh_edges e ON e.src = rr.id),
    mh_keep AS (SELECT id AS doc_id FROM mh_reach
                GROUP BY id HAVING min(r) = id),
    deduped8 AS MATERIALIZED (SELECT g.doc_id, g.text
               FROM fwgated8 g JOIN mh_keep USING (doc_id)),
    {_dsir_select_ctes("deduped8")},
    sel AS MATERIALIZED (SELECT doc_id, n_grams, lw, sel FROM dsir_keyed
            ORDER BY sel DESC, doc_id LIMIT 100),
    pw AS (SELECT s.doc_id, s.n_grams, s.lw, s.sel,
                  CAST({tok_n} AS BIGINT) AS n
           FROM sel s JOIN deduped8 c USING (doc_id)),
    pnz AS (SELECT * FROM pw WHERE n > 0),
    ppre AS (SELECT doc_id, n_grams, lw, sel, n,
                    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS p
             FROM pnz),
    pseg AS (SELECT doc_id, n_grams, lw, sel, n, p,
                    unnest(range(p // 128, (p + n - 1) // 128 + 1)) AS seq_id
             FROM ppre)
    SELECT doc_id, n_grams,
           round(lw / 1e6, 6) AS log_w,
           round(sel / 1e6, 6) AS sel_key,
           n AS n_tokens, seq_id,
           greatest(seq_id * 128 - p, 0) AS doc_from,
           least(n, (seq_id + 1) * 128 - p)
             - greatest(seq_id * 128 - p, 0) AS seg_len,
           greatest(p - seq_id * 128, 0) AS seq_off
    FROM pseg
    """


def _v8_synth_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v8 synthesis corpus — v6's with the embedded-RU and
    'of'-listy deltas; factored for the test pins."""
    d = F.col("doc_id")
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    bomb = F.concat(
        F.lit(" "),
        F.repeat(F.lit("we do it and "), _V6_BOMB_REPS),
        F.lit("so it is done now."),
    )
    listy = F.array_join(
        F.transform(
            F.sequence(F.lit(60), F.lit(95)),
            lambda i: F.concat(
                F.lit("of u"), (d * 1009 + i * 131).cast("string")
            ),
        ),
        "\n",
    )
    eng = F.concat_ws(
        "\n\n",
        F.concat(_v6_sp_para(_V6_CYC1, _V6_JCYC1, 0), F.lit(".")),
        F.when(d % 10 == 3, F.lit(_V5_RU)),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("quick stats d"),
                d.cast("string"),
                F.lit(" overview now"),
            ),
        ),
        F.concat(
            _v6_sp_para(_V6_CYC2, _V6_JCYC2, 20),
            F.when(d % 9 == 0, bomb).otherwise(F.lit(".")),
        ),
        F.when(
            d % 5 == 0,
            F.lit("Copyright 2024 Example Corp. All rights reserved."),
        ),
        F.concat(_v6_sp_para(_V6_CYC3, _V6_JCYC3, 40), F.lit(".")),
        F.when(d % 10 == 6, listy),
    )
    return docs.select(
        "doc_id",
        F.when(d % 10 == 7, F.lit(_V5_DE)).otherwise(eng).alias("text"),
    )


@query("q_curation_v8", oracle=_curation_v8_oracle())
def q_curation_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.analytics.clusters import dedup_clusters
    from magicxml_spark.operators.curation import (
        fineweb_quality,
        gopher_quality,
        paragraph_curation,
    )
    from magicxml_spark.operators.dedup import lsh_candidate_pairs
    from magicxml_spark.operators.dsir import dsir_select
    from magicxml_spark.operators.sampling import pack_sequences
    from magicxml_spark.operators.text import tokens

    d = F.col("doc_id")
    synth = _v8_synth_spark(spark, sf_dir).localCheckpoint(eager=True)
    # stage 0: paragraph-granularity score-gated langid curation —
    # langid-only mode (lm_path=None); the LM arm is v7's
    cur = paragraph_curation(
        synth, None, keep_lang="en",
        min_score=_V6_MIN_SCORE, max_chars=1000,
    )
    kept = cur.select(
        "doc_id", F.col("text_kept").alias("text")
    ).localCheckpoint(eager=True)
    # stage 1: Gopher gate on the REASSEMBLED documents (empty
    # reassemblies fail n_words and drop here)
    gated = kept.join(
        gate_on_computed(
            gopher_quality(kept), ["doc_id", "keep"], F.col("keep")
        ).select("doc_id"),
        "doc_id",
    )
    # stage 2: FineWeb custom filters
    fwgated = gated.join(
        gate_on_computed(
            fineweb_quality(gated), ["doc_id", "keep"], F.col("keep")
        ).select("doc_id"),
        "doc_id",
    ).localCheckpoint(eager=True)
    # stage 3: MinHash fuzzy dedup (capped star default) -> connected
    # components -> min-id survivor per cluster
    pairs = lsh_candidate_pairs(fwgated, "doc_id", "text")
    clusters = dedup_clusters(
        fwgated.select(F.col("doc_id").alias("id")), pairs
    )
    keep_ids = clusters.filter(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    deduped = fwgated.join(keep_ids, "doc_id").localCheckpoint(eager=True)
    # stage 4: DSIR selection toward the even-id target
    sel = dsir_select(deduped, "doc_id", "text", d % 2 == 0, k=100)
    # stage 5: token-exact 128-token packing
    counts = deduped.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(
        sel.join(counts, "doc_id"), "doc_id", "n_tokens", seq_len=128
    )
    return packed.select(
        "doc_id",
        "n_grams",
        "log_w",
        "sel_key",
        "n_tokens",
        "seq_id",
        "doc_from",
        "seg_len",
        "seq_off",
    )


# --- Per-paragraph quality classifier (the third paragraph signal) -----------
# Completes the paragraph-granularity story across the signal
# families: langid (v7/v8), frozen-LM surprisal (v7), and now the
# GPT-3-class model-based quality filter — trained on seed-labeled
# paragraphs, scored per paragraph, bad paragraphs dropped, documents
# reassembled. INVARIANT ORACLE (the q_quality_classifier pattern):
# the seed rule (paragraph contains the planted token) is linearly
# separable in bag-of-words space, so a correctly trained LR predicts
# it exactly and the keep decision — and therefore the reassembled
# text fingerprints — are SQL-expressible from the rule itself. Any
# misprediction anywhere in the train/score/rebuild chain is a value
# mismatch.
_QP_P0 = "the quick brown fox jumps over the lazy dog in"
_QP_P2 = "we can read the good story of the old house at"
_QP_SPAM1 = "buy cheap meds now spamtoken click here for"
_QP_SPAM2 = "limited offer spamtoken win big prize today from"


def _quality_paragraphs_oracle() -> str:
    words_para = _WORDS_SQL.replace("text", "para")
    return f"""
    WITH synthq AS (
      SELECT doc_id,
             concat_ws(chr(10) || chr(10),
               '{_QP_P0} d' || CAST(doc_id AS VARCHAR),
               CASE WHEN doc_id % 3 = 0
                    THEN '{_QP_SPAM1} zz' || CAST(doc_id AS VARCHAR) END,
               '{_QP_P2} d' || CAST(doc_id AS VARCHAR),
               CASE WHEN doc_id % 4 = 0
                    THEN '{_QP_SPAM2} zz' || CAST(doc_id AS VARCHAR) END)
               AS text
      FROM documents),
    qps AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
            FROM synthq),
    qpi AS (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i
            FROM qps),
    qparas AS (SELECT doc_id, i - 1 AS pos, ps[i] AS para FROM qpi),
    qkeep AS (SELECT doc_id, pos, para,
                     NOT list_contains({words_para}, 'spamtoken') AS keep
              FROM qparas),
    qre AS (SELECT doc_id,
                   count(*) AS n_paras,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
                   coalesce(array_to_string(
                     list_filter(list(CASE WHEN keep THEN para END
                                      ORDER BY pos),
                                 x -> x IS NOT NULL),
                     chr(10) || chr(10)), '') AS text
            FROM qkeep GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_paras AS BIGINT) AS n_paras,
           CAST(n_kept AS BIGINT) AS n_kept,
           md5(text) AS text_fp
    FROM qre
    """


@query("q_quality_paragraphs", oracle=_quality_paragraphs_oracle())
def q_quality_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering at paragraph granularity: LR
    trained on seed-labeled paragraphs (even-doc half), every
    paragraph scored, predicted-bad paragraphs dropped, documents
    reassembled (the shared rebuild tail). The paragraph key is the
    struct(id, pos) pattern; scoring is one broadcast vocab join +
    the JVM model transform — no Python UDF."""
    import re

    from magicxml_spark.analytics.ml import (
        score_quality,
        train_quality_classifier,
    )
    from magicxml_spark.operators.curation import rebuild_documents
    from magicxml_spark.operators.text import tokens

    d = F.col("doc_id")
    synth = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat_ws(
                "\n\n",
                F.concat(F.lit(_QP_P0 + " d"), d.cast("string")),
                F.when(
                    d % 3 == 0,
                    F.concat(F.lit(_QP_SPAM1 + " zz"), d.cast("string")),
                ),
                F.concat(F.lit(_QP_P2 + " d"), d.cast("string")),
                F.when(
                    d % 4 == 0,
                    F.concat(F.lit(_QP_SPAM2 + " zz"), d.cast("string")),
                ),
            ).alias("text"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    paras = synth.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), re.escape("\n\n"), -1)).alias(
            "pos", "para"
        ),
    ).localCheckpoint(eager=True)  # feeds train, score, and rebuild
    labeled = paras.withColumn(
        "_pid", F.struct("doc_id", "pos")
    ).withColumn(
        "label",
        F.array_contains(tokens(F.col("para")), "spamtoken").cast("double"),
    )
    model, vocab, v = train_quality_classifier(
        labeled.filter(d % 2 == 0),
        "label",
        id_col="_pid",
        text_col="para",
        max_vocab=64,
        max_iter=25,
    )
    scored = score_quality(
        labeled, model, vocab, v, id_col="_pid", text_col="para"
    )
    marked = scored.withColumn("_keep", F.col("quality_pred") == 0)
    out = rebuild_documents(marked)
    return out.select(
        "doc_id",
        "n_paras",
        "n_kept",
        F.md5("text_kept").alias("text_fp"),
    )
