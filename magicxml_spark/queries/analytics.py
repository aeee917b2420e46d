"""LLM-data-pipeline analytics queries (SURVEY.md §2.7 + BASELINE.json
north star: dedup, similarity search, text analysis at 100 TB shape).

Oracle notes: hash families are md5-hex (identical across JVM/DuckDB).
Integer-derived floats (ratios, idf inputs) are exact rationals on both
sides. The cosine queries are the exception: the engine computes a
normalized float64 GEMM while the oracle computes dot/(|a||b|) —
mathematically identical but not bit-identical, so rankings can differ
when two candidates' cosines agree to within last-ulp noise and output
rounding uses banker's (numpy) vs half-away (DuckDB) at exact
representation boundaries; both events are measure-zero on real-valued
embeddings and absent from the current testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magicxml_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash16,
    winnow_fingerprint_sets,
    winnow_pairs,
)
from magicxml_spark.operators.similarity import (
    cosine_topk_blocked,
    cosine_topk_lsh,
    embedding_near_dup_blocked,
)
from magicxml_spark.operators.text import LANG_MARKERS, text_profile
from magicxml_spark.queries import query
from magicxml_spark.tables import table

_WORDS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


# --- Exact dedup (hash-groupBy) ---------------------------------------------
@query(
    "q_exact_dedup",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS keeper_id, count(*) AS n_dupes
    FROM documents GROUP BY 1
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(table(spark, sf_dir, "documents"), "doc_id", "text")


# --- MinHash + LSH candidate pairs ------------------------------------------
@query(
    "q_minhash_lsh_pairs",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id,
                  list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                 i -> array_to_string(w[i:i+2], ' ')) AS sh
           FROM w WHERE len(w) > 0),
    sig AS (SELECT doc_id, b.band,
                   list_aggregate(list_transform(sh, s -> substr(md5(s), 1 + b.band * 8, 8)),
                                  'min') AS signature
            FROM sh, (SELECT unnest(range(0, 4)) AS band) b)
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
    FROM sig a JOIN sig b2
      ON a.band = b2.band AND a.signature = b2.signature AND a.doc_id < b2.doc_id
    """,
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket_size=None pins exact all-pairs emission — the oracle's
    # semantics; the library default is the capped mode (DEFAULT_MAX_BUCKET_SIZE)
    return lsh_candidate_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", n_bands=4,
        shingle_k=3, max_bucket_size=None,
    )


# --- Capped LSH emission (the library-default mode, oracle-guarded) ----------
# The DuckDB oracle replicates the CAPPED semantics exactly: all-pairs
# within (band, signature) buckets of <= cap members, star pairs
# (min-id representative, member) above — mirroring
# _capped_bucket_pairs so the default operating mode at 100 TB has its
# own hard correctness gate, not just the uncapped oracle plus tests.
# The testdata corpus has no exact-duplicate clusters, so the gate
# plants a deterministic boilerplate cluster (every 25th doc's text is
# replaced by a constant footer — 20 docs at sf0.01, one >cap bucket
# per band) to force the star branch; the oracle applies the identical
# CASE rewrite. Everything else stays real corpus text exercising the
# small-bucket all-pairs branch.
_BOILER = "subscribe to our newsletter for weekly updates and exclusive offers"
_LSH_SIG_BOILER_SQL = f"""
    d AS (SELECT doc_id,
                 CASE WHEN doc_id % 25 = 0 THEN '{_BOILER}' ELSE text END AS text
          FROM documents),
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM d),
    sh AS (SELECT doc_id,
                  list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                 i -> array_to_string(w[i:i+2], ' ')) AS sh
           FROM w WHERE len(w) > 0),
    sig AS (SELECT doc_id, b.band,
                   list_aggregate(list_transform(sh, s -> substr(md5(s), 1 + b.band * 8, 8)),
                                  'min') AS signature
            FROM sh, (SELECT unnest(range(0, 4)) AS band) b)
"""


@query(
    "q_lsh_pairs_capped",
    oracle=f"""
    WITH {_LSH_SIG_BOILER_SQL},
    sized AS (SELECT doc_id, band, signature,
                     count(*) OVER (PARTITION BY band, signature) AS n,
                     min(doc_id) OVER (PARTITION BY band, signature) AS rep
              FROM sig),
    small AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b
              FROM sized a JOIN sized b2
                ON a.band = b2.band AND a.signature = b2.signature
               AND a.doc_id < b2.doc_id
              WHERE a.n <= 8),
    star AS (SELECT rep AS id_a, doc_id AS id_b
             FROM sized WHERE n > 8 AND doc_id <> rep)
    SELECT DISTINCT id_a, id_b
    FROM (SELECT * FROM small UNION ALL SELECT * FROM star)
    """,
)
def q_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_candidate_pairs in the CAPPED mode (cap=8) against a DuckDB
    twin of the star-emission semantics; the planted boilerplate
    cluster guarantees the star branch runs at every SF."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 25 == 0, F.lit(_BOILER))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return lsh_candidate_pairs(
        docs, "doc_id", "text", n_bands=4, shingle_k=3, max_bucket_size=8
    )


# --- xxhash64 LSH family: oracle-guarded recall invariant ---------------------
# DuckDB has no xxhash64 builtin, so the fast hash family cannot be
# value-replicated. Oracle the INVARIANT instead (VERDICT r4 #4): any
# min-wise family buckets exact duplicates identically — every pair of
# documents with equal normalized text (and a non-empty shingle set)
# MUST appear in the xxhash64 candidate set. The result is the
# family-INDEPENDENT exact-duplicate pair list with a `missed` flag the
# Spark side computes by probing the actual xxhash64 pairs; the oracle
# pins every flag to FALSE. A recall regression in the fast path
# flips flags to TRUE -> hash mismatch -> red driver row.
# The corpus has no exact duplicates, so the gate mirrors every 10th
# document under a high id offset (a deterministic re-crawl twin) —
# the oracle applies the identical UNION ALL — giving a non-vacuous
# family-independent duplicate pair list to probe recall against.
_MIRROR_SQL = """
    dd AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 = 0)
"""


@query(
    "q_lsh_xxhash64_recall",
    oracle=f"""
    WITH {_MIRROR_SQL},
    n AS (SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                 len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS nw
          FROM dd)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, FALSE AS missed
    FROM n a JOIN n b ON a.fp = b.fp AND a.doc_id < b.doc_id
    WHERE a.nw > 0 AND b.nw > 0
    """,
)
def q_lsh_xxhash64_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10000000).alias("doc_id"), "text"
        )
    )
    normed = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    n_words = F.size(
        F.filter(F.split(F.lower(F.col("text")), "\\s+"), lambda t: t != F.lit(""))
    )
    fp = docs.select(
        F.col("doc_id").alias("id"), F.md5(normed).alias("fp")
    ).filter(n_words > 0)
    dup = (
        fp.alias("a")
        .join(fp.alias("b"), F.expr("a.fp = b.fp AND a.id < b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    # max_bucket_size=None: star emission keeps only rep-anchored pairs,
    # which would legitimately drop non-rep duplicate pairs from the
    # candidate LIST (clusters recover them) — the recall invariant is
    # on the exact emission mode.
    cand = lsh_candidate_pairs(
        docs, "doc_id", "text", n_bands=4, shingle_k=3,
        max_bucket_size=None, hash_family="xxhash64",
    )
    return dup.join(
        cand.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
    ).select("id_a", "id_b", F.col("_hit").isNull().alias("missed"))


# --- Exact n-gram Jaccard (verify step, over consecutive-doc pairs) ----------
@query(
    "q_jaccard_pairs",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(list_distinct({_WORDS_SQL})) AS w FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1 AND a.w = b.w
              GROUP BY 1, 2)
    SELECT s1.doc_id AS id_a, s2.doc_id AS id_b,
           round(CAST(coalesce(i, 0) AS DOUBLE) / (s1.n + s2.n - coalesce(i, 0)), 6) AS jaccard
    FROM sizes s1
    JOIN sizes s2 ON s2.doc_id = s1.doc_id + 1
    LEFT JOIN inter ON inter.id_a = s1.doc_id AND inter.id_b = s2.doc_id
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d2 = docs.select((F.col("doc_id")).alias("_rhs"))
    pairs = docs.select(F.col("doc_id").alias("id_a")).join(
        d2, F.col("_rhs") == F.col("id_a") + 1
    ).select("id_a", F.col("_rhs").alias("id_b"))
    out = jaccard_pairs(docs, pairs, "doc_id", "text", shingle_k=1)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# --- Winnowing fingerprints (rolling-hash local fingerprinting) ---------------
# Shared CTE chain: words -> positional 3-grams -> 8-hex md5 hashes ->
# window-4 sliding minima -> sorted distinct fingerprint set. DuckDB's
# inclusive 1-based list slicing w[i:i+k-1] yields the k-element gram;
# list_aggregate(_, 'min') is the lexicographic window min, matching
# Spark's array_min over the same hex strings.
_WINNOW_FPS_SQL = f"""
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
                      WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                      ELSE list_transform(range(1, len(w) - 1),
                                          i -> array_to_string(w[i:i+2], ' '))
                 END AS grams
          FROM w),
    h AS (SELECT doc_id,
                 list_transform(grams, s -> substr(md5(s), 1, 8)) AS hs
          FROM g),
    win AS (SELECT doc_id,
                   CASE WHEN len(hs) = 0 THEN CAST([] AS VARCHAR[])
                        WHEN len(hs) < 4 THEN [list_aggregate(hs, 'min')]
                        ELSE list_transform(range(1, len(hs) - 2),
                                            i -> list_aggregate(hs[i:i+3], 'min'))
                   END AS wins
            FROM h),
    f AS (SELECT doc_id, list_sort(list_distinct(wins)) AS fps FROM win)
"""


@query(
    "q_winnow_fingerprint",
    oracle=f"""
    WITH {_WINNOW_FPS_SQL}
    SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps,
           fps[1] AS min_fp,
           md5(array_to_string(fps, ',')) AS fp_digest
    FROM f
    """,
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets_ = winnow_fingerprint_sets(table(spark, sf_dir, "documents"), "doc_id", "text")
    return sets_.select(
        F.col("id").alias("doc_id"),
        F.size("fps").alias("n_fps"),
        F.get(F.col("fps"), 0).alias("min_fp"),
        F.md5(F.concat_ws(",", "fps")).alias("fp_digest"),
    )


@query(
    "q_winnow_pairs",
    oracle=f"""
    WITH {_WINNOW_FPS_SQL},
    long AS (SELECT doc_id, len(fps) AS n, unnest(fps) AS fp FROM f),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
                 count(*) AS n_shared
          FROM long a JOIN long b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING count(*) >= 2)
    SELECT id_a, id_b, n_shared,
           round(CAST(n_shared AS DOUBLE) / least(na, nb), 6) AS containment
    FROM p
    """,
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", min_shared=2,
        max_bucket_size=None,  # oracle = exact all-pairs semantics
    )


# Capped winnow emission — the library-default mode (star emission with
# the per-doc set size riding as payload) against a DuckDB twin of the
# exact capped semantics, on the same planted-boilerplate corpus as
# q_lsh_pairs_capped so the star branch provably engages.
_WINNOW_FPS_BOILER_SQL = _WINNOW_FPS_SQL.replace(
    "w AS (SELECT doc_id, "
    + _WORDS_SQL
    + " AS w FROM documents)",
    "d AS (SELECT doc_id, CASE WHEN doc_id % 25 = 0 THEN '"
    + _BOILER
    + "' ELSE text END AS text FROM documents), w AS (SELECT doc_id, "
    + _WORDS_SQL.replace("FROM documents", "")
    + " AS w FROM d)",
)


@query(
    "q_winnow_pairs_capped",
    oracle=f"""
    WITH {_WINNOW_FPS_BOILER_SQL},
    long AS (SELECT doc_id, len(fps) AS n, unnest(fps) AS fp
             FROM f WHERE len(fps) > 0),
    sized AS (SELECT doc_id, n, fp,
                     count(*) OVER (PARTITION BY fp) AS bn,
                     min(doc_id) OVER (PARTITION BY fp) AS rep,
                     arg_min(n, doc_id) OVER (PARTITION BY fp) AS rep_n
              FROM long),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb
      FROM sized a JOIN sized b ON a.fp = b.fp AND a.doc_id < b.doc_id
      WHERE a.bn <= 8
      UNION ALL
      SELECT rep, doc_id, rep_n, n FROM sized WHERE bn > 8 AND doc_id <> rep
    ),
    p AS (SELECT id_a, id_b, na, nb, count(*) AS n_shared
          FROM cand GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
    SELECT id_a, id_b, n_shared,
           round(CAST(n_shared AS DOUBLE) / least(na, nb), 6) AS containment
    FROM p
    """,
)
def q_winnow_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """winnow_pairs in the CAPPED default mode (cap=8): star pairs
    carry the representative's fingerprint-set size as the containment
    denominator — the oracle replicates that payload semantics
    (arg_min window) exactly."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 25 == 0, F.lit(_BOILER))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return winnow_pairs(docs, "doc_id", "text", min_shared=2, max_bucket_size=8)


# --- Exact substring (repeated n-gram span) dedup ----------------------------
# Distributed "exact substring deduplication" (Lee et al. 2022 class):
# corpus-repeated word 8-grams keep only the global first occurrence;
# per-doc overlapping repeat spans merge into islands. The oracle
# replicates the whole pipeline — positional grams, first-occurrence
# order key, interval merge — in SQL (grouping by the gram string is
# set-identical to Spark's md5-digest shuffle key). The oracle's okey
# is row_number() ORDER BY (doc_id, pos): order-isomorphic to the
# Spark side's min(struct(id, pos)) for any id type — and a SCALAR, so
# the rep join's okey <> first_okey filter stays vectorized (a
# struct_pack okey made that join quadratic-ish in DuckDB: 93 s vs
# 0.7 s at sf0.1).
@query(
    "q_substring_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
                      WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
                      ELSE list_transform(range(1, len(w) - 6),
                                          i -> array_to_string(w[i:i+7], ' '))
                 END AS grams
          FROM w),
    occ0 AS (SELECT doc_id, unnest(grams) AS gram,
                    unnest(range(len(grams))) AS pos
             FROM g),
    occ AS (SELECT doc_id, gram, pos,
                   row_number() OVER (ORDER BY doc_id, pos) AS okey
            FROM occ0),
    f AS (SELECT gram, min(okey) AS first_okey, count(*) AS cnt
          FROM occ GROUP BY gram),
    rep AS (SELECT o.doc_id, o.pos AS s, o.pos + 8 AS e
            FROM occ o JOIN f ON o.gram = f.gram
            WHERE f.cnt >= 2 AND o.okey <> f.first_okey),
    fl AS (SELECT doc_id, s, e,
                  CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                       ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS ni
           FROM rep),
    isl AS (SELECT doc_id, s, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                                 ROWS UNBOUNDED PRECEDING) AS island
            FROM fl),
    mi AS (SELECT doc_id, island, min(s) AS i_start, max(e) AS i_end
           FROM isl GROUP BY 1, 2),
    base AS (SELECT doc_id, len(w) AS n_tokens FROM w),
    pd AS (SELECT mi.doc_id, count(*) AS n_isl,
                  sum(least(i_end, b.n_tokens) - i_start) AS removed
           FROM mi JOIN base b ON b.doc_id = mi.doc_id GROUP BY 1)
    SELECT b.doc_id AS id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(pd.n_isl, 0) AS BIGINT) AS n_repeat_islands,
           CAST(coalesce(pd.removed, 0) AS BIGINT) AS tokens_removed,
           CAST(b.n_tokens - coalesce(pd.removed, 0) AS BIGINT) AS tokens_remaining
    FROM base b LEFT JOIN pd ON pd.doc_id = b.doc_id
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import substring_dedup_stats

    return substring_dedup_stats(table(spark, sf_dir, "documents"), "doc_id", "text", n=8)


# --- Z-order layout key (multi-dimensional clustering) ------------------------
def _zorder_oracle() -> str:
    from magicxml_spark.plans.layout import bucketize_sql, interleave_sql

    return f"""
    WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS alo,
                       max(CAST(l_extendedprice AS DOUBLE)) AS ahi,
                       min(CAST(l_quantity AS DOUBLE)) AS blo,
                       max(CAST(l_quantity AS DOUBLE)) AS bhi
                FROM lineitem),
    b AS (SELECT l_orderkey, l_linenumber,
                 {bucketize_sql('l_extendedprice', 'mm.alo', 'mm.ahi')} AS ba,
                 {bucketize_sql('l_quantity', 'mm.blo', 'mm.bhi')} AS bb
          FROM lineitem, mm WHERE l_orderkey % 997 = 0)
    SELECT l_orderkey, l_linenumber,
           CAST({interleave_sql('ba', 'bb')} AS BIGINT) AS zkey
    FROM b
    """


@query("q_zorder_key", oracle=_zorder_oracle())
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys over (price, quantity) for a deterministic sample —
    bit-for-bit against the oracle's generated twin expression. NOTE
    the bounds aggregate runs over the FULL table (layout keys must
    be consistent corpus-wide); only the output is sampled."""
    from magicxml_spark.plans.layout import zorder_key

    li = table(spark, sf_dir, "lineitem")
    keyed = zorder_key(li, "l_extendedprice", "l_quantity")
    return keyed.filter(F.col("l_orderkey") % 997 == 0).select(
        "l_orderkey", "l_linenumber", "zkey"
    )


# --- Histogram quantiles (approximate percentiles, sketch path) ---------------
def _hist_oracle() -> str:
    from magicxml_spark.operators.sketches import histogram_quantiles_oracle_sql

    return histogram_quantiles_oracle_sql("lineitem", "l_extendedprice")


@query("q_histogram_quantiles", oracle=_hist_oracle())
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sketches import histogram_quantiles

    return histogram_quantiles(
        table(spark, sf_dir, "lineitem"), "l_extendedprice"
    )


# --- Heuristic dependency parse (A5's declarative arm) ------------------------
def _parse_oracle() -> str:
    from magicxml_spark.analytics.heuristic_parse import heuristic_parse_oracle_sql

    return heuristic_parse_oracle_sql()


@query("q_dependency_parse", oracle=_parse_oracle())
def q_dependency_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level (pos, dep, head) triples from the rule-based parser
    (analytics/heuristic_parse.py) over a doc_id % 17 sample — the
    POS cascade and attachment CASE text is shared verbatim with the
    oracle, so the whole rule system sits on the hard gate."""
    from magicxml_spark.analytics.heuristic_parse import heuristic_dependency_parse

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)
    return heuristic_dependency_parse(docs, "doc_id", "text")


# --- Cardinality / frequency sketches (HLL, Count-Min) ------------------------
# The shingle-list SQL mirrors word_shingles' conventions: distinct
# set, whole-doc gram for sub-k documents, none for empty ones (HLL is
# set-semantics so per-doc distinctness is immaterial, but matching
# conventions keeps the value domain identical).
_SHINGLES_SQL = f"""
    (SELECT lang, unnest(list_distinct(
         list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                        i -> array_to_string(w[i:i+2], ' ')))) AS sh
     FROM (SELECT lang, {_WORDS_SQL} AS w FROM documents)
     WHERE len(w) > 0)
"""


def _hll_oracle() -> str:
    from magicxml_spark.operators.sketches import hll_oracle_sql

    return hll_oracle_sql(_SHINGLES_SQL, "lang", "sh")


@query("q_hll_distinct", oracle=_hll_oracle())
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-shingle cardinality via the deterministic
    md5 HyperLogLog (operators/sketches.py) — the estimate itself is on
    the correctness gate, bit-for-bit."""
    from magicxml_spark.operators.dedup import word_shingles
    from magicxml_spark.operators.sketches import hll_distinct

    docs = table(spark, sf_dir, "documents")
    long = docs.select(
        "lang", F.explode(word_shingles(F.col("text"), 3)).alias("sh")
    )
    return hll_distinct(long, "lang", "sh")


# HLL mergeability — THE property that makes sketches 100 TB-relevant:
# shard-local register tables max-merge into exactly the global sketch
# (max over shards == global max, algebraically), so distinct counts
# compose across partitions/days/clusters without re-scanning. The
# query builds per-shard sketches INDEPENDENTLY (doc_id % 3 as the
# shard), max-merges them, and compares against the direct global
# estimate; the oracle reuses the generated HLL SQL for the estimates
# and pins the merge==direct flag to TRUE — a mis-keyed or lossy merge
# path flips it and reds the row.
@query(
    "q_hll_union",
    # the generated direct-estimate SQL plus the pinned TRUE flag —
    # merged ≡ direct is algebraic, so the oracle never computes shards
    oracle=_hll_oracle().replace(
        "FROM est", ", TRUE AS merge_matches_direct FROM est"
    ),
)
def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import word_shingles
    from magicxml_spark.operators.sketches import hll_fold_registers, hll_register

    docs = table(spark, sf_dir, "documents")
    long = docs.select(
        "lang",
        (F.col("doc_id") % 3).alias("_shard"),
        F.explode(word_shingles(F.col("text"), 3)).alias("sh"),
    )
    idx, rho = hll_register(F.col("sh"))
    shard_regs = (
        long.select("lang", "_shard", idx.alias("_i"), rho.alias("_r"))
        .groupBy("lang", "_shard", "_i")
        .agg(F.max("_r").alias("r"))
    )
    merged_regs = shard_regs.groupBy("lang", "_i").agg(F.max("r").alias("r"))
    merged = hll_fold_registers(merged_regs, ["lang"])

    direct_regs = (
        long.select("lang", idx.alias("_i"), rho.alias("_r"))
        .groupBy("lang", "_i")
        .agg(F.max("_r").alias("r"))
    )
    direct = hll_fold_registers(direct_regs, ["lang"]).select(
        "lang",
        F.col("n_registers").alias("_dn"),
        F.col("hll_estimate").alias("_de"),
        F.col("method").alias("_dm"),
    )
    return merged.join(direct, "lang").select(
        "lang",
        "n_registers",
        "hll_estimate",
        "method",
        (
            (F.col("n_registers") == F.col("_dn"))
            & (F.col("hll_estimate") == F.col("_de"))
            & (F.col("method") == F.col("_dm"))
        ).alias("merge_matches_direct"),
    )


def _cm_oracle() -> str:
    from magicxml_spark.operators.sketches import CM_DEPTH, cm_cell_sql

    cells = " ".join(f"WHEN {j} THEN {cm_cell_sql(j, 'term')}" for j in range(CM_DEPTH))
    return f"""
    WITH tok AS (SELECT unnest({_WORDS_SQL}) AS term FROM documents),
    sk AS (SELECT j.j, CASE j.j {cells} END AS cell, count(*) AS cell_count
           FROM tok, (SELECT unnest(range(0, {CM_DEPTH})) AS j) j
           GROUP BY 1, 2),
    exact AS (SELECT term, count(*) AS exact_count FROM tok GROUP BY term
              ORDER BY exact_count DESC, term LIMIT 20),
    probe AS (SELECT e.term, e.exact_count, j.j, CASE j.j {cells} END AS cell
              FROM exact e, (SELECT unnest(range(0, {CM_DEPTH})) AS j) j),
    est AS (SELECT p.term, p.exact_count, min(sk.cell_count) AS cm_estimate
            FROM probe p JOIN sk ON sk.j = p.j AND sk.cell = p.cell
            GROUP BY 1, 2)
    SELECT term, exact_count, cm_estimate,
           cm_estimate - exact_count AS overestimate
    FROM est
    """


@query("q_cm_heavy_hitters", oracle=_cm_oracle())
def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the exact top-20 terms, with
    the sketch's (always >= 0) overestimate alongside — the heavy-
    hitter workflow at sketch cost, gate-checked cell by cell."""
    from magicxml_spark.operators.sketches import countmin_estimate, countmin_sketch
    from magicxml_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    sketch = countmin_sketch(tok, "term")
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), "term").limit(20)
    est = countmin_estimate(sketch, top.select("term"), "term")
    return top.join(est, "term").select(
        "term",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_count")).alias("overestimate"),
    )


# Count-Min mergeability — the SUM-merge algebra (vs HLL's max-merge):
# shard-local sketches add cell-wise into exactly the global sketch, so
# frequency tables compose across partitions without re-scanning. Same
# invariant-gate pattern as q_hll_union: the oracle reuses the direct
# CM estimate SQL and pins merge_matches_direct=TRUE.
@query(
    "q_cm_union",
    # the direct-estimate SQL with the overestimate column swapped for
    # the pinned TRUE flag — merged ≡ direct is algebraic (sum over
    # shards == global count per cell), so the oracle never shards
    oracle=_cm_oracle().replace(
        "cm_estimate - exact_count AS overestimate",
        "TRUE AS merge_matches_direct",
    ),
)
def q_cm_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.sketches import (
        cm_probes,
        countmin_estimate,
        countmin_sketch,
    )
    from magicxml_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 3).alias("_shard"), F.explode(tokens(F.col("text"))).alias("term")
    )
    # per-shard sketches built independently, then cell-wise SUM merge
    shard_sketches = (
        tok.select("_shard", cm_probes(F.col("term")).alias("_r"))
        .select("_shard", F.col("_r.j").alias("j"), F.col("_r.cell").alias("cell"))
        .groupBy("_shard", "j", "cell")
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )
    merged = shard_sketches.groupBy("j", "cell").agg(
        F.sum("cell_count").alias("cell_count")
    )
    direct = countmin_sketch(tok.select("term"), "term")

    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), "term").limit(20)
    est_m = countmin_estimate(merged, top.select("term"), "term").withColumnRenamed(
        "cm_estimate", "cm_estimate_merged"
    )
    est_d = countmin_estimate(direct, top.select("term"), "term")
    return (
        top.join(est_m, "term")
        .join(est_d, "term")
        .select(
            "term",
            "exact_count",
            F.col("cm_estimate_merged").alias("cm_estimate"),
            (F.col("cm_estimate_merged") == F.col("cm_estimate")).alias(
                "merge_matches_direct"
            ),
        )
    )


# --- SimHash sketch -----------------------------------------------------------
def _simhash_oracle() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    return f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    h AS (SELECT doc_id,
                 list_transform(w, t -> ('0x' || substr(md5(t), 1, 4))::BIGINT) AS hs
          FROM w)
    SELECT doc_id, CAST({bit_terms} AS INTEGER) AS simhash FROM h
    """


@query("q_simhash", oracle=_simhash_oracle())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone sketch materialization -> the explode/hash-agg form
    (codegen'd md5; 1.8x the HOF-aggregate Column form at sf1 — see
    simhash16_table docstring). Bit-identical output, same oracle."""
    from magicxml_spark.operators.dedup import simhash16_table

    return simhash16_table(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).withColumnRenamed("id", "doc_id")


# --- SimHash Hamming near-dup (bit-sliced pigeonhole banding) -----------------
# Pairs within Hamming<=3 of each other's 16-bit sketch: exact by
# pigeonhole over four 4-bit slices (a <=3-bit difference leaves at
# least one slice untouched), candidates from the slice equi-join,
# popcount filter on the XOR — never all-pairs.
def _simhash_near_dup_oracle() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    return f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    h AS (SELECT doc_id,
                 list_transform(w, t -> ('0x' || substr(md5(t), 1, 4))::BIGINT) AS hs
          FROM w),
    s AS (SELECT doc_id, CAST({bit_terms} AS INTEGER) AS sk FROM h),
    sl AS (SELECT doc_id, sk, b.i AS slice_idx, (sk >> (b.i * 4)) & 15 AS slice_val
           FROM s, (SELECT unnest(range(0, 4)) AS i) b)
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           CAST(bit_count(xor(a.sk, b2.sk)) AS INTEGER) AS hamming
    FROM sl a JOIN sl b2
      ON a.slice_idx = b2.slice_idx AND a.slice_val = b2.slice_val
     AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.sk, b2.sk)) <= 3
    """



# --- 64-bit wide SimHash (scale sketch; see BASELINE.md round 3) -------------
def _wide_words_cte() -> str:
    """CTE producing (doc_id, w0..w3): the four 16-bit sign-sum words,
    word g carved from hex chars [1+4g, 4+4g] of one md5 per token —
    the DuckDB twin of operators.dedup.simhash_wide."""
    hash_lists = ", ".join(
        f"list_transform(w, t -> ('0x' || substr(md5(t), {1 + 4 * g}, 4))::BIGINT) AS h{g}"
        for g in range(4)
    )
    word_cols = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN list_sum(list_transform(h{g}, x -> CASE WHEN (x >> {b}) & 1 = 1 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(16)
        )
        + f" AS INTEGER) AS w{g}"
        for g in range(4)
    )
    return f"""
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    h AS (SELECT doc_id, {hash_lists} FROM w),
    words AS (SELECT doc_id, {word_cols} FROM h)
    """


@query(
    "q_simhash_wide",
    oracle=f"WITH {_wide_words_cte()} SELECT doc_id, w0, w1, w2, w3 FROM words",
)
def q_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import simhash_wide

    docs = table(spark, sf_dir, "documents")
    sk = docs.select("doc_id", simhash_wide(F.col("text")).alias("_sw"))
    return sk.select(
        "doc_id", *[F.element_at("_sw", g + 1).alias(f"w{g}") for g in range(4)]
    )


def _simhash_wide_near_dup_oracle() -> str:
    ham = " + ".join(f"bit_count(xor(a.ws[{i}], b2.ws[{i}]))" for i in range(1, 5))
    return f"""
    WITH {_wide_words_cte()},
    s AS (SELECT doc_id, [w0, w1, w2, w3] AS ws FROM words),
    sl AS (SELECT doc_id, ws, b.i AS slice_idx,
                  (ws[b.i // 2 + 1] >> (8 * (b.i % 2))) & 255 AS slice_val
           FROM s, (SELECT unnest(range(0, 8)) AS i) b)
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           CAST({ham} AS INTEGER) AS hamming
    FROM sl a JOIN sl b2
      ON a.slice_idx = b2.slice_idx AND a.slice_val = b2.slice_val
     AND a.doc_id < b2.doc_id
    WHERE {ham} <= 7
    """


@query("q_simhash_wide_near_dup", oracle=_simhash_wide_near_dup_oracle())
def q_simhash_wide_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import simhash_wide_near_dup_pairs

    return simhash_wide_near_dup_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=7,
        max_bucket_size=None,  # oracle = exact all-pairs semantics
    )


@query("q_simhash_near_dup", oracle=_simhash_near_dup_oracle())
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3,
        max_bucket_size=None,  # oracle = exact all-pairs semantics
    )


# --- Streaming wide-SimHash near-dup (stateful slice buckets) ----------------
# Multiset semantics like q_stream_minhash_pairs: one row per shared
# byte-slice bucket, so the batch slice-join WITHOUT DISTINCT is the
# oracle (pairs within hamming range appearing in k shared slices emit
# k times; the packed-bigint popcount equals the per-word sum).
def _simhash_wide_stream_oracle() -> str:
    ham = " + ".join(f"bit_count(xor(a.ws[{i}], b2.ws[{i}]))" for i in range(1, 5))
    return f"""
    WITH {_wide_words_cte()},
    s AS (SELECT doc_id, [w0, w1, w2, w3] AS ws FROM words),
    sl AS (SELECT doc_id, ws, b.i AS slice_idx,
                  (ws[b.i // 2 + 1] >> (8 * (b.i % 2))) & 255 AS slice_val
           FROM s, (SELECT unnest(range(0, 8)) AS i) b)
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
           CAST({ham} AS INTEGER) AS hamming
    FROM sl a JOIN sl b2
      ON a.slice_idx = b2.slice_idx AND a.slice_val = b2.slice_val
     AND a.doc_id < b2.doc_id
    WHERE {ham} <= 7
    """


@query("q_stream_simhash_wide_pairs", oracle=_simhash_wide_stream_oracle())
def q_stream_simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.dedup import run_stream_simhash_wide_to_memory

    # explicit uncapped pin: the oracle is the exact batch-join multiset
    return run_stream_simhash_wide_to_memory(spark, sf_dir, max_bucket_size=None)


# --- Text profile: token counts, quality, language ID, fingerprint -----------
def _text_profile_oracle() -> str:
    marker_scores = ", ".join(
        f"len(list_filter(toks, t -> list_contains({markers!r}, t))) AS s_{lang}"
        for lang, markers in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    n_at_best = " + ".join(f"(CASE WHEN s_{lang} = best THEN 1 ELSE 0 END)" for lang in langs)
    pick = "CASE " + " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs) + " END"
    en = LANG_MARKERS["en"]
    return f"""
    WITH base AS (
      SELECT doc_id, text, {_WORDS_SQL} AS toks,
             len(text) - len(regexp_replace(text, '[\\.,;:!\\?"''()\\[\\]{{}}]', '', 'g'))
               AS n_punct
      FROM documents),
    scored AS (
      SELECT doc_id, text, toks, n_punct,
             len(list_filter(toks, t -> list_contains({en!r}, t))) AS n_stop_en,
             {marker_scores}
      FROM base),
    final AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text,
                  '[\\p{{L}}]+|[0-9]+|[^\\p{{L}}0-9\\s]')) AS BIGINT) AS n_subwords,
             CAST(len(text) AS BIGINT) AS n_chars_measured,
             CASE WHEN len(text) > 0
                  THEN round(CAST(n_punct AS DOUBLE) / len(text), 4) ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(toks) > 0
                  THEN round(CAST(n_stop_en AS DOUBLE) / len(toks), 4) ELSE 0.0 END
               AS stopword_ratio_en,
             round(((CASE WHEN len(text) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN len(text) = 0 OR CAST(n_punct AS DOUBLE) / len(text) <= 0.2
                          THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN len(toks) > 0 AND CAST(n_stop_en AS DOUBLE) / len(toks) >= 0.01
                          THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality,
             CASE WHEN {best} > 0 AND ({n_at_best}) = 1
                  THEN ({pick}) ELSE 'und' END AS lang_pred,
             substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16)
               AS fingerprint,
             best
      FROM (SELECT *, {best} AS best FROM scored))
    SELECT doc_id, n_tokens, n_subwords, n_chars_measured, punct_ratio,
           stopword_ratio_en, quality, lang_pred, fingerprint
    FROM final
    """


@query("q_text_profile", oracle=_text_profile_oracle())
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    prof = text_profile(docs, "text")
    return prof.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_subwords").cast("bigint").alias("n_subwords"),
        F.col("n_chars_measured").cast("bigint").alias("n_chars_measured"),
        "punct_ratio",
        "stopword_ratio_en",
        "quality",
        "lang_pred",
        "fingerprint",
    )


# --- TF-IDF top terms (A1 + A4) ----------------------------------------------
@query(
    "q_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    stats AS (SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_tf
              FROM tok GROUP BY term)
    SELECT term, doc_freq, total_tf,
           round(ln((CAST(n_docs AS DOUBLE) + 1) / (doc_freq + 1)), 6) AS idf
    FROM stats, n
    ORDER BY total_tf DESC, term
    LIMIT 20
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both per-term counts are partial aggregates, so each shuffle
    carries one (term, count) row per term and map task, never every
    distinct (term, doc) pair as ``countDistinct(doc_id)`` would:
    ``total_tf`` counts the exploded tokens and ``doc_freq`` the
    exploded per-document distinct terms (``array_distinct``, one hash
    pass per document, so per-document work stays linear). n_docs is
    "documents with >= 1 token", computable from a split-only
    projection (no explode, no token shuffle)."""
    docs = table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.col("text")), "\\s+"), lambda t: t != F.lit(""))
    total_tf = (
        docs.select(F.explode(words).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("total_tf"))
    )
    doc_freq = (
        docs.select(F.explode(F.array_distinct(words)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
    )
    n_docs = docs.agg(
        F.sum(F.when(F.size(words) > 0, 1).otherwise(0)).alias("n_docs")
    )
    return (
        total_tf.join(doc_freq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "doc_freq",
            "total_tf",
            F.round(
                F.log((F.col("n_docs").cast("double") + 1) / (F.col("doc_freq") + 1)), 6
            ).alias("idf"),
        )
        .orderBy(F.desc("total_tf"), "term")
        .limit(20)
    )


# --- Unigram-LM surprisal (perplexity-proxy quality score) -------------------
# avg(-ln p(w)) per document against the corpus unigram distribution.
# Determinism contract (operators/text.unigram_surprisal docstring):
# per-token ln is rounded ROW-WISE to integer micro-nats — ln+round on
# identical inputs agrees cross-engine (the tfidf precedent) — and the
# per-doc aggregation is an exact BIGINT sum, so the result is
# independent of addition order on any partitioning and in DuckDB.
@query(
    "q_unigram_surprisal",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents),
    tot AS (SELECT count(*) AS n_total FROM tok),
    vocab AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    micro AS (SELECT doc_id,
                     CAST(round(ln(CAST(n_total AS DOUBLE) / c) * 1e6, 0) AS BIGINT)
                       AS m
              FROM tok JOIN vocab USING (term), tot)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(sum(m) / count(*) / 1e6, 6) AS surprisal
    FROM micro GROUP BY doc_id
    """,
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.text import unigram_surprisal

    docs = table(spark, sf_dir, "documents")
    return unigram_surprisal(docs)


# --- Cosine top-k: exact baseline ---------------------------------------------
@query(
    "q_cosine_topk",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
               AS sim
      FROM v a JOIN v b ON a.vec_id <> b.vec_id)
    SELECT vec_id, neighbor_id, rank, round(sim, 4) AS sim
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
          FROM pairs)
    WHERE rank <= 5
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocked exact variant: no driver-side index collect (round-2 fix)
    return cosine_topk_blocked(table(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=5)


# --- Cosine top-k: LSH-bucketed scale path (approximate, recall-gated) --------
# An approximate neighbor list has no SQL oracle, but its RECALL vs the
# exact top-k does: the md5-derived hyperplanes are deterministic, so
# the wrapper runs the real LSH search, scores it against the blocked
# exact answer, and emits one row asserting the pinned floor. The
# DuckDB oracle is the constant expected row — hash-match fails iff
# the search stops clearing its floor (0.8588 at sf0.01, 0.89 at
# sf0.1; floor 0.85 holds at both driver SFs).
@query(
    "q_cosine_topk_lsh",
    oracle="""
    SELECT 'lsh' AS algo,
           CAST((SELECT count(DISTINCT vec_id) FROM embeddings) AS BIGINT) AS n_queries,
           CAST(5 AS INTEGER) AS k,
           CAST(1 AS INTEGER) AS meets_recall_floor
    """,
)
def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 3 planes x 8 OR-amplified tables: at corpus scale grow
    # n_planes ~ log2(n / target_bucket_size).
    from magicxml_spark.operators.similarity import topk_recall

    emb = table(spark, sf_dir, "embeddings")
    approx = cosine_topk_lsh(
        emb, "vec_id", "embedding", k=5, dim=64, n_planes=3, n_tables=8
    )
    exact = cosine_topk_blocked(emb, "vec_id", "embedding", k=5)
    return topk_recall(approx, exact).select(
        F.lit("lsh").alias("algo"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(5).cast("int").alias("k"),
        (F.col("recall") >= 0.85).cast("int").alias("meets_recall_floor"),
    )


# --- Cosine top-k through the cost-based dispatch facade -----------------------
# Same oracle as q_cosine_topk: at correctness SF the corpus is far
# below ANN_EXACT_MAX_ROWS, so auto mode must pick the blocked-exact
# backend and hash-match the exact answer — proving the facade wiring
# (count -> choose_ann_strategy -> backend) end-to-end. The dispatch
# boundaries themselves are unit-tested in test_similarity.
@query(
    "q_cosine_topk_auto",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
               AS sim
      FROM v a JOIN v b ON a.vec_id <> b.vec_id)
    SELECT vec_id, neighbor_id, rank, round(sim, 4) AS sim
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
          FROM pairs)
    WHERE rank <= 5
    """,
)
def q_cosine_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.similarity import cosine_topk

    return cosine_topk(table(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=5)


# --- ANN hard gate: recall@5 of the approximate paths vs blocked exact ---------
# The LSH planes are md5-derived (no RNG) and KMeans is seeded, so at a
# fixed SF the recall is a reproducible scalar — pinned below at the
# driver's correctness SF (sf0.01) after cross-session verification.
# A change to either approximate algorithm moves its recall and fails
# the hash match; pytest additionally floors recall at SF_SMOKE.
@query(
    "q_ann_recall",
    oracle="""
    SELECT * FROM (VALUES
      ('lsh', (SELECT count(DISTINCT vec_id) FROM embeddings), 0.8588::DOUBLE),
      ('ivf', (SELECT count(DISTINCT vec_id) FROM embeddings), 0.4676::DOUBLE)
    ) AS t(algo, n_queries, recall)
    ORDER BY algo
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.similarity import cosine_topk_ivf, topk_recall

    emb = table(spark, sf_dir, "embeddings")
    exact = cosine_topk_blocked(emb, "vec_id", "embedding", k=5)
    lsh = cosine_topk_lsh(
        emb, "vec_id", "embedding", k=5, dim=64, n_planes=3, n_tables=8
    )
    ivf = cosine_topk_ivf(emb, "vec_id", "embedding", k=5, n_cells=16, n_probe=2)
    out = None
    for algo, approx in (("lsh", lsh), ("ivf", ivf)):
        row = topk_recall(approx, exact).select(
            F.lit(algo).alias("algo"),
            F.col("n_queries").cast("long").alias("n_queries"),
            F.col("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("algo")


# --- Embedding-cosine near-duplicate pairs -------------------------------------
@query(
    "q_embedding_near_dup",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
               AS sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, round(sim, 4) AS sim FROM pairs WHERE sim >= 0.4
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocked exact variant: no driver-side index collect (round-2 fix)
    return embedding_near_dup_blocked(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.4
    )


# --- SemDeDup-class cluster-bucketed semantic dedup ---------------------------
# The KMeans cells can't be replicated in SQL, so the oracle gates the
# family-independent invariant (the q_lsh_xxhash64_recall pattern): a
# mirrored twin plants an EXACT copy of every 10th vector under a
# shifted id, and exact duplicates can never escape — identical vectors
# land in the same cell (assignment is a pure function of the vector)
# with cosine 1.0 >= threshold and the original's id is smaller, so
# every planted copy MUST come back keep=0. planted_missed is pinned 0;
# n_input / n_planted / n_kept_planted-side are exact row-count
# algebra. Cross-boundary NEAR-dups may be missed — SemDeDup's accepted
# trade, recorded in the operator docstring, NOT silently.
@query(
    "q_embedding_cluster_dedup",
    oracle="""
    WITH n AS (SELECT count(*) AS n_orig FROM embeddings),
         p AS (SELECT count(*) AS n_planted FROM embeddings WHERE vec_id % 10 = 0)
    SELECT CAST(n.n_orig + p.n_planted AS BIGINT) AS n_input,
           CAST(p.n_planted AS BIGINT) AS n_planted,
           CAST(0 AS BIGINT) AS planted_missed
    FROM n, p
    """,
)
def q_embedding_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.similarity import embedding_cluster_dedup

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # offset derived from the actual max id (scalar collect) so planted
    # ids can never collide with originals at any scale factor — a fixed
    # 10M constant would misclassify once real vec_id reaches 10M
    max_id = emb.agg(F.max("vec_id")).first()[0]
    offset = max_id + 1
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(offset)).alias("vec_id"), "embedding"
    )
    twin = emb.unionByName(planted)
    # n_cells auto-derived (~sqrt(n)) — the invariant is family-
    # independent, so the driver row also gates the auto rule
    labeled = embedding_cluster_dedup(twin, "vec_id", "embedding", threshold=0.95)
    is_planted = (F.col("id") > max_id).cast("long")
    return labeled.agg(
        F.count("*").alias("n_input"),
        F.sum(is_planted).alias("n_planted"),
        F.sum(is_planted * F.col("keep")).alias("planted_missed"),
    )


# --- int8 embedding quantization profile -------------------------------------
# Affine per-vector int8 codes + reconstruction error. The rounding is
# bit-reproducible across engines (same IEEE quotient, half-up on a
# nonnegative value), so codes and error stats hash-match exactly.
@query(
    "q_embedding_quantize",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id, v, list_min(v) AS mn,
                 (list_max(v) - list_min(v)) / 255.0 AS scale
          FROM v),
    c AS (SELECT vec_id, v, mn, scale,
                 CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                      ELSE list_transform(v, x -> CAST(round((x - mn) / scale) AS INTEGER))
                 END AS codes
          FROM q)
    SELECT vec_id,
           CAST(len(codes) AS INTEGER) AS n_dims,
           round(scale, 6) AS scale,
           CAST(list_sum(codes) AS BIGINT) AS sum_codes,
           round(list_max(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - (mn + codes[i] * scale)))), 6) AS max_abs_err
    FROM c
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.similarity import dequantize_int8, quantize_int8

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    offset, scale, codes = quantize_int8(F.col("embedding"))
    # the raw scale keeps a distinct name: aliasing round(scale) AS scale
    # in the final select would lateral-shadow the input column, making
    # dequantize reconstruct with the ROUNDED scale (observed live —
    # max_abs_err drifted 0.000845 vs the oracle's 0.000856)
    q = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        offset.alias("mn"),
        scale.alias("scale_raw"),
        codes.alias("codes"),
    )
    deq = dequantize_int8(F.col("codes"), F.col("mn"), F.col("scale_raw"))
    err = F.array_max(F.zip_with(F.col("v"), deq, lambda a, b: F.abs(a - b)))
    return q.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        F.round("scale_raw", 6).alias("scale"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda s, x: s + x).alias(
            "sum_codes"
        ),
        F.round(err, 6).alias("max_abs_err"),
    )


# --- Exact cosine top-k over int8-quantized embeddings ------------------------
# The quantized ANN path: codes travel int8-sized, the GEMM runs on the
# dequantized float64 — proving the 4x-smaller working set preserves
# ranking semantics end-to-end. Oracle replicates quantize->dequantize->
# exact top-k in SQL, so this is hash-checked, not rows-only.
@query(
    "q_cosine_topk_int8",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id, v, list_min(v) AS mn,
                 (list_max(v) - list_min(v)) / 255.0 AS scale
          FROM v),
    d AS (SELECT vec_id,
                 CASE WHEN scale = 0 THEN list_transform(v, x -> mn)
                      ELSE list_transform(v, x -> mn + round((x - mn) / scale) * scale)
                 END AS v
          FROM q),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
               AS sim
      FROM d a JOIN d b ON a.vec_id <> b.vec_id)
    SELECT vec_id, neighbor_id, rank, round(sim, 4) AS sim
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
          FROM pairs)
    WHERE rank <= 5
    """,
)
def q_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.similarity import dequantize_int8, quantize_int8

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    offset, scale, codes = quantize_int8(F.col("embedding"))
    coded = emb.select("vec_id", offset.alias("mn"), scale.alias("scale"), codes.alias("codes"))
    deq = coded.select(
        "vec_id",
        dequantize_int8(F.col("codes"), F.col("mn"), F.col("scale")).alias("v"),
    )
    return cosine_topk_blocked(deq, "vec_id", "v", k=5)


# --- Composed corpus-curation pipeline (the LLM-data end-to-end) ------------
# keep a document iff: it is its exact-dup cluster's keeper (min doc_id
# per fingerprint), its heuristic quality passes, and language ID is
# confident. One declarative plan: dedup groupBy + profile projection
# joined back — the shape of a real 100 TB curation pass.
@query(
    "q_corpus_filter",
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
      SELECT p.doc_id, p.fp,
             ((CASE WHEN p.n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN p.n_chars = 0 OR CAST(p.n_punct AS DOUBLE) / p.n_chars <= 0.2
                    THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN len(p.toks) > 0
                     AND CAST(len(list_filter(p.toks,
                           t -> list_contains(['the','and','of','to','is','with'], t)))
                         AS DOUBLE) / len(p.toks) >= 0.01
                    THEN 1.0 ELSE 0.0 END)) / 3.0 AS quality
      FROM prof p)
    SELECT s.doc_id
    FROM scored s JOIN keepers k ON s.fp = k.fp AND s.doc_id = k.keeper_id
    WHERE round(s.quality, 4) >= 0.6
    """,
)
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.text import quality_score

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    prof = docs.select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
        ).alias("fp"),
        quality_score(F.col("text")).alias("quality"),
    )
    keepers = prof.groupBy("fp").agg(F.min("doc_id").alias("keeper_id"))
    return (
        prof.join(
            keepers,
            (prof["fp"] == keepers["fp"]) & (prof["doc_id"] == keepers["keeper_id"]),
        )
        .filter(F.col("quality") >= 0.6)
        .select("doc_id")
    )


# --- Model-based quality filter (GPT-3-class seed-rule LR) -------------------
# Train a logistic regression against a deterministic seed rule
# (label = document contains the token 'spark') on the even-id half,
# score the whole corpus. INVARIANT ORACLE (the q_ann_recall /
# q_embedding_cluster_dedup pattern): the rule is linearly separable
# in the collision-free bag-of-words space (the label is a threshold
# on one feature's count), so a correctly trained classifier scores
# 100% on BOTH splits — the oracle recomputes the per-(split, label)
# counts from the rule and pins n_correct = n. Any misprediction —
# feature drift, vocab-order instability, a broken model transform —
# is a value mismatch. The iterative L-BFGS fit itself is not
# SQL-expressible; this is the family-independent gate.
@query(
    "q_quality_classifier",
    oracle=f"""
    WITH labeled AS (
      SELECT doc_id,
             CASE WHEN list_contains({_WORDS_SQL}, 'spark')
                  THEN 1 ELSE 0 END AS label
      FROM documents)
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS split,
           CAST(label AS DOUBLE) AS label,
           count(*) AS n,
           count(*) AS n_correct
    FROM labeled GROUP BY 1, 2
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.analytics.ml import score_quality, train_quality_classifier
    from magicxml_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = docs.withColumn(
        "label", F.array_contains(tokens(F.col("text")), "spark").cast("double")
    )
    train = labeled.filter(F.col("doc_id") % 2 == 0)
    # 25 L-BFGS iterations: the planted rule is separable (0
    # misclassified from iteration ~10 on, probed at sf0.01 and sf1);
    # the default 100 would quadruple a pure per-iteration scheduling
    # cost — on separable data L-BFGS never hits tol and runs the full
    # budget, so the budget IS the cost
    model, vocab, v = train_quality_classifier(
        train, "label", max_vocab=64, max_iter=25
    )
    scored = score_quality(labeled, model, vocab, v)
    return (
        scored.withColumn(
            "split",
            F.when(F.col("doc_id") % 2 == 0, F.lit("train")).otherwise(F.lit("test")),
        )
        .groupBy("split", "label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("quality_pred") == F.col("label").cast("int")).cast("long")
            ).alias("n_correct"),
        )
    )


# --- BM25 ranked retrieval (Okapi / Lucene-IDF variant) -----------------------
# Retrieval-based data selection: rank the corpus against a fixed
# query-term bag. Query-term filter sits inside the explode projection
# (map-side: only matching tokens fan out), corpus stats are a 1-row
# broadcast, the df table is <=|Q| rows, top-k is a TakeOrdered.
# Micro-unit pre-rounding per (doc, term) keeps scores engine-exact;
# both engines spell the float arithmetic in the same association
# order (left-to-right product, then the single divide).
@query(
    "q_bm25_topk",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    stats AS (SELECT count(*) AS n_docs, sum(len(w)) AS total_len FROM w),
    tok AS (SELECT doc_id, len(w) AS dl,
                   unnest(list_filter(w, x -> x IN ('spark', 'customer', 'vector')))
                     AS term
            FROM w),
    tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
           FROM tok GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (SELECT doc_id,
                       CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                                  * tf * 2.2
                                  / (tf + 1.2 * (1.0 - 0.75
                                     + 0.75 * dl / (CAST(total_len AS DOUBLE) / n_docs)))
                                  * 1e6, 0) AS BIGINT) AS m
                FROM tf JOIN dfq USING (term), stats)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           round(sum(m) / 1e6, 6) AS score
    FROM contrib GROUP BY doc_id
    ORDER BY sum(m) DESC, doc_id LIMIT 50
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.retrieval import bm25_topk

    docs = table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "doc_id", "text", ["spark", "customer", "vector"], k=50
    )


# --- Batch BM25: top-k per query over a queries TABLE -------------------------
# The inverted-index shape: tf/df aggregate per (doc, term) once, the
# query fan-out joins AFTER the per-term math, and the per-query cut
# is a row_number window WindowGroupLimit bounds to k rows per group.
# Query 3 carries a term absent from the corpus ('quantum') so the
# missing-df path is exercised.
_BM25_QUERIES = [
    (1, "spark"), (1, "customer"),
    (2, "vector"), (2, "merge"), (2, "window"),
    (3, "quantum"), (3, "hash"),
]


@query(
    "q_bm25_per_query",
    oracle=f"""
    WITH qs(query_id, term) AS (VALUES {", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)}),
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    stats AS (SELECT count(*) AS n_docs, sum(len(w)) AS total_len FROM w),
    tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
    tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
           FROM tok JOIN (SELECT DISTINCT term FROM qs) USING (term)
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (SELECT doc_id, term,
                       CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                                  * tf * 2.2
                                  / (tf + 1.2 * (1.0 - 0.75
                                     + 0.75 * dl / (CAST(total_len AS DOUBLE) / n_docs)))
                                  * 1e6, 0) AS BIGINT) AS m
                FROM tf JOIN dfq USING (term), stats),
    sc AS (SELECT query_id, doc_id, count(*) AS n_hits, sum(m) AS s
           FROM contrib JOIN qs USING (term) GROUP BY 1, 2)
    SELECT query_id, doc_id, CAST(n_hits AS BIGINT) AS n_hits,
           round(s / 1e6, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY s DESC, doc_id) AS rk
          FROM sc)
    WHERE rk <= 10
    """,
)
def q_bm25_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.retrieval import bm25_topk_per_query

    docs = table(spark, sf_dir, "documents")
    queries_df = spark.createDataFrame(
        _BM25_QUERIES, "query_id int, term string"
    )
    return bm25_topk_per_query(docs, "doc_id", "text", queries_df, k=10)


# --- Frozen BM25 inverted index lifecycle --------------------------------------
# Build the full inverted index once (postings + stats as parquet),
# answer the q_bm25_topk query against the FROZEN index — never
# touching corpus text. The oracle is q_bm25_topk's SQL verbatim:
# the index algebra must be indistinguishable from direct computation
# (the same lifecycle-parity trick as q_stream_lm_score).
from magicxml_spark.queries import ORACLE as _ORACLE  # noqa: E402


@query("q_bm25_index_query", oracle=_ORACLE["q_bm25_topk"])
def q_bm25_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.retrieval import (
        query_bm25_index,
        write_bm25_index,
    )
    from magicxml_spark.queries.pipeline import _snapshot_scratch

    docs = table(spark, sf_dir, "documents")
    idx = _snapshot_scratch("bm25idx")
    write_bm25_index(docs, idx)
    return query_bm25_index(
        spark, idx, ["spark", "customer", "vector"], k=50
    )


@query("q_bm25_index_probe", oracle=_ORACLE["q_bm25_topk"])
def q_bm25_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only twin of q_bm25_index_query (the write-penalty
    ledger's steady-state arm): the inverted index builds once per
    process (pipeline._probe_snapshot), the row is pure postings-probe
    retrieval — the cost a serving deployment pays per query batch."""
    from magicxml_spark.operators.retrieval import (
        query_bm25_index,
        write_bm25_index,
    )
    from magicxml_spark.queries.pipeline import _probe_snapshot

    docs = table(spark, sf_dir, "documents")
    idx = _probe_snapshot(
        "bm25idx_probe", sf_dir, lambda p: write_bm25_index(docs, p)
    )
    return query_bm25_index(spark, idx, ["spark", "customer", "vector"], k=50)
