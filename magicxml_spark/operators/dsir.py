"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
NeurIPS, arXiv:2302.03169).

Selects raw-corpus documents that look like a TARGET domain: fit two
bag-of-hashed-ngrams generative models (target p, raw q), weight each
raw document by its log importance ratio log p(x) - log q(x), add
Gumbel noise, and keep the top-k — Gumbel-top-k IS sampling without
replacement proportional to the softmax of the weights (the paper's
§3 resampling step), so the one pass produces a true importance
resample, not just the argmax documents.

Published recipe -> Spark mapping:

* hashed n-gram features (paper §3.1: unigrams + bigrams hashed into
  m buckets): word unigrams + bigrams, bucket = first ``HASH_CHARS``
  hex digits of md5(gram) -> m = 16**HASH_CHARS buckets. md5-prefix
  bucketing (not xxhash64) keeps the bucket function reproducible in
  any engine, the repo-wide oracle-parity rule (sampling.hash_order).
* both models fit in ONE aggregation pass over the exploded gram
  stream (groupBy bucket: raw count + conditional target count) — at
  100 TB that is a single map-side-combinable shuffle of at most m
  rows per mapper, not two corpus scans.
* additive (Laplace) ``ALPHA`` smoothing keeps every bucket's ratio
  finite; the paper smooths the hashed multinomials the same way.
* the per-bucket log ratio is pre-rounded to integer MICRO-NATS in
  the m-bounded bucket table, so each document's weight is an exact
  integer sum — engine-exact under any addition order (the
  unigram_surprisal determinism contract).
* Gumbel noise is derived deterministically from md5(doc_id) (seeded
  resampling; u in (0,1) by construction), so the selection is
  reproducible and DuckDB-checkable.

Scale shape (r12): one explode (pre-repartitioned to
defaultParallelism — the LM-family scan-parallelism rule) into one
groupBy(bucket) agg whose output is BOUNDED at m = 16**HASH_CHARS
rows; the per-bucket micro-nat ratios then collect to the driver
(bounded collect — the two_phase_rank class; float math stays on the
JVM) and per-document scoring is ONE projection summing dense
m-array entries over the in-row gram array — no gram-stream
checkpoint, no scoring join, no groupBy(doc), no ids left-join. The
top-k is a distributed TakeOrdered (orderBy+limit). Zero windows;
the only collect is the m-bounded bucket table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magicxml_spark.operators.text import tokens as _words


# Hex digits of md5(gram) that name its bucket: m = 16**HASH_CHARS =
# 4096 buckets, small enough that the per-bucket ratios collect to the
# driver and score as one in-row array lookup.
HASH_CHARS = 3
M_BUCKETS = 16**HASH_CHARS
# Additive (Laplace) smoothing of both bucket multinomials.
ALPHA = 0.5


def hashed_ngram_stream(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """One row per unigram/bigram INSTANCE (multiset — counts matter
    for the multinomial models, unlike word_shingles' distinct sets):
    (id, bucket) where bucket = substr(md5(gram), 1, HASH_CHARS).

    Repartitions the compact (id, text) projection to
    defaultParallelism before the explode so gram fan-out is not
    pinned to the scan's input-split count (the gopher_quality /
    _lm_positions pre-explode fix).
    """
    sc = df.sparkSession.sparkContext
    w = _words(F.col("_t"))
    n = F.size(w)
    # bigrams: zip each word with its successor; the last position
    # pairs with null -> null -> filtered (no when-guard needed, and
    # n=1 docs zip against an empty slice the same way)
    bi = F.filter(
        F.zip_with(
            w,
            F.slice(w, 2, F.greatest(n - 1, F.lit(1))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda x: x.isNotNull(),
    )
    grams = F.concat(w, bi)
    keep = [F.col(c) for c in (extra_cols or [])]
    return (
        df.select(F.col(id_col).alias("_id"), *keep, F.col(text_col).alias("_t"))
        .repartition(sc.defaultParallelism)
        .select(
            "_id",
            *[c for c in (extra_cols or [])],
            F.explode(grams).alias("_g"),
        )
        .select(
            "_id",
            *[c for c in (extra_cols or [])],
            F.substring(F.md5("_g"), 1, HASH_CHARS).alias("bucket"),
        )
    )


def _gram_array(text_col: str) -> Column:
    """The hashed_ngram_stream multiset as a PER-ROW array (unigram +
    bigram instances, duplicates kept) — the in-row scoring spelling's
    input. NULL text yields an empty array (the exploded stream's
    drop-the-row + left-join-coalesce outcome, in-row)."""
    w = _words(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(w)
    bi = F.filter(
        F.zip_with(
            w,
            F.slice(w, 2, F.greatest(n - 1, F.lit(1))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda x: x.isNotNull(),
    )
    return F.concat(w, bi)


def _m_array_literal(spark, vals: list[int]) -> Column:
    """Dense bucket->micro-nat array as a PARSED SQL literal — F.lit
    of a 4096-element Python list costs seconds of py4j round-trips
    per plan build (the bloom-bitmap measurement, sketches.py)."""
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def _inrow_scored(
    df: DataFrame,
    id_col: str,
    text_col: str,
    m_lit: Column,
) -> DataFrame:
    """(id, n_grams, lw_micro) via per-row gram-array lookup into the
    dense m-array — zero joins, zero shuffles past the pre-compute
    repartition (the scan-parallelism rule: per-row md5 work must not
    run at the input-split count)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .repartition(par)
        .select("_id", _gram_array("_t").alias("_gs"))
    )
    idx = lambda g: (  # noqa: E731
        F.conv(F.substring(F.md5(g), 1, HASH_CHARS), 16, 10).cast("int") + 1
    )
    return base.select(
        F.col("_id"),
        F.coalesce(F.size("_gs"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(
            F.aggregate(
                F.transform("_gs", lambda g: F.element_at(m_lit, idx(g))),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ),
            F.lit(0).cast("bigint"),
        ).alias("lw_micro"),
    )


def dsir_log_weights(
    raw: DataFrame,
    id_col: str,
    text_col: str,
    target_flag: Column,
) -> DataFrame:
    """Per-document DSIR log importance weight.

    ``target_flag`` marks the rows of ``raw`` that form the target
    corpus (the usual deployment: the target is a trusted subset —
    Wikipedia, curated books — riding in the same table as the crawl).
    Returns one row per input document:
    (id, n_grams, lw_micro bigint) where lw_micro = sum over gram
    instances of round(1e6 * [ln p_hat(bucket) - ln q_hat(bucket)]),
    p_hat/q_hat the alpha-smoothed target/raw bucket multinomials.
    Documents with no tokens score 0 (empty product).

    Scale shape (r12 rewrite, guide §8's decide-with-small-rows): the
    bucket table is BOUNDED at ``M_BUCKETS`` rows by construction
    — data size never grows it — so the per-bucket micro-nat ratios
    collect to the driver (the two_phase_rank bounded-collect class)
    and scoring becomes ONE projection: per document, sum the dense
    m-array entries its gram array indexes. The exploded gram stream
    is built once for the model-fit aggregate and never shuffled
    again; the old shape's gram-stream checkpoint, scoring join,
    groupBy(doc) and ids left-join are gone (measured: q_dsir_select
    2.76 -> 1.0 s noop sf0.1). Every float op (ln, /, round) stays on
    the JVM: only exact integers cross the driver boundary, so the
    micro-nat values are bit-identical to the join spelling's
    (m totals enter the JVM expression as literals — the
    score_with_dsir_model precedent)."""
    spark = raw.sparkSession
    grams = hashed_ngram_stream(
        raw.withColumn("_is_t", target_flag.cast("int")),
        id_col,
        text_col,
        extra_cols=["_is_t"],
    )
    counts = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum("_is_t").alias("ct"),
    )
    # ONE job fits both multinomials (bounded output); exact integer
    # sums happen in Python (no float drift possible on longs)
    counts_rows = counts.collect()
    n_raw = sum(r["cr"] for r in counts_rows)
    n_tgt = sum(r["ct"] for r in counts_rows)
    vals = [0] * M_BUCKETS  # absent buckets are unreachable: every
    # scored gram contributed to counts
    if counts_rows:
        # per-bucket micro-nats computed by the JVM over a
        # LocalRelation (literal totals — the score_with_dsir_model
        # ratio expression, proven engine-exact)
        am = ALPHA * M_BUCKETS
        m_rows = (
            spark.createDataFrame(
                [(r["bucket"], r["cr"], r["ct"]) for r in counts_rows],
                "bucket string, cr long, ct long",
            )
            .select(
                "bucket",
                F.round(
                    (
                        F.log((F.col("ct") + ALPHA) / F.lit(n_tgt + am))
                        - F.log((F.col("cr") + ALPHA) / F.lit(n_raw + am))
                    )
                    * 1e6
                )
                .cast("bigint")
                .alias("m"),
            )
            .collect()
        )
        for r in m_rows:
            vals[int(r["bucket"], 16)] = r["m"]
    return _inrow_scored(
        raw, id_col, text_col, _m_array_literal(spark, vals)
    ).select(
        F.col("_id").alias(id_col), "n_grams", "lw_micro"
    )


def gumbel_key(id_col: Column, lw_micro: Column) -> Column:
    """Integer micro-nat Gumbel-perturbed selection key.

    u = (first 8 md5 hex digits of the id + 0.5) / 2^32 lands strictly
    inside (0,1); g = -ln(-ln(u)) ~ Gumbel(0,1) under the uniform-hash
    model. Micro-rounding g before the integer add keeps the key
    engine-exact (the surprisal-family contract).
    """
    u = (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast(
            "double"
        )
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    g = -F.log(-F.log(u))
    return lw_micro + F.round(g * 1e6).cast("bigint")


def dsir_select(
    raw: DataFrame,
    id_col: str,
    text_col: str,
    target_flag: Column,
    k: int,
) -> DataFrame:
    """Gumbel-top-k importance resample of ``raw`` toward the target.

    Selection is a distributed
    TakeOrdered — orderBy+limit, never a single-task global window.
    Output: (id, n_grams, log_w, sel_key) sorted by sel_key desc.
    """
    lw = dsir_log_weights(raw, id_col, text_col, target_flag)
    return (
        lw.withColumn("_key", gumbel_key(F.col(id_col), F.col("lw_micro")))
        .orderBy(F.desc("_key"), id_col)
        .limit(k)
        .select(
            id_col,
            "n_grams",
            F.round(F.col("lw_micro") / 1e6, 6).alias("log_w"),
            F.round(F.col("_key") / 1e6, 6).alias("sel_key"),
        )
    )


# --- frozen DSIR model lifecycle ---------------------------------------------
# The deployment shape (same as the LM snapshot family): fit the two
# hashed-ngram multinomials ONCE on a reference crawl + target corpus,
# persist the bucket counts, then score every future batch O(batch).
# Unlike Kneser-Ney's adjusted counts, DSIR's sufficient statistics
# are raw additive counts, so append merges EXACTLY (append == rebuild
# is pinned in tests, no pruned-approximation caveat).


def write_dsir_model(
    raw: DataFrame,
    path: str,
    target_flag: Column,
) -> dict:
    """Fit and persist the DSIR bucket model: ``{path}/counts``
    (bucket, cr, ct — raw and target gram counts) and ``{path}/meta``
    (hash_chars, alpha, n_raw, n_tgt). Counts, never ratios, so
    appends stay exact.
    Returns ``{"n_raw", "n_tgt"}``."""
    import os

    spark = raw.sparkSession
    grams = hashed_ngram_stream(
        raw.withColumn("_is_t", target_flag.cast("int")),
        "doc_id",
        "text",
        extra_cols=["_is_t"],
    )
    counts = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"), F.sum("_is_t").alias("ct")
    )
    counts.write.mode("overwrite").parquet(os.path.join(path, "counts"))
    row = (
        spark.read.parquet(os.path.join(path, "counts"))
        .agg(F.sum("cr"), F.sum("ct"))
        .first()
    )
    n_raw = int(row[0]) if row[0] is not None else 0
    n_tgt = int(row[1]) if row[1] is not None else 0
    spark.createDataFrame(
        [(HASH_CHARS, ALPHA, n_raw, n_tgt)],
        "hash_chars int, alpha double, n_raw long, n_tgt long",
        # repartition(1): 1-row LocalRelation otherwise writes 32
        # tasks / 32 files (write_bpe_model's measured pathology)
    ).repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, "meta")
    )
    return {"n_raw": n_raw, "n_tgt": n_tgt}


def score_with_dsir_model(
    docs: DataFrame,
    path: str,
) -> DataFrame:
    """Score a batch against a frozen DSIR model O(batch).

    Out-of-model buckets take the zero-count ratio (the same
    alpha-smoothed formula with cr=ct=0). Output:
    (id, n_grams, log_w); docs with no tokens score 0.

    Scale shape (r12 rewrite — the dsir_log_weights rationale): the
    stored bucket table is bounded at ``M_BUCKETS`` rows, so its
    micro-nat ratios (JVM-computed, exactly the join spelling's
    expression) collect once into a dense array whose absent slots
    hold the oov value — the left-join + coalesce(oov) semantics as
    an array fill — and scoring is ONE projection over the batch:
    no gram explode, no join, no groupBy, no ids left-join."""
    import os

    spark = docs.sparkSession
    meta = spark.read.parquet(os.path.join(path, "meta")).first()
    n_raw, n_tgt = int(meta["n_raw"]), int(meta["n_tgt"])
    am = ALPHA * M_BUCKETS
    counts = spark.read.parquet(os.path.join(path, "counts"))
    ratio = counts.select(
        "bucket",
        F.round(
            (
                F.log((F.col("ct") + ALPHA) / F.lit(n_tgt + am))
                - F.log((F.col("cr") + ALPHA) / F.lit(n_raw + am))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("m"),
    )
    oov = (
        F.round(
            (
                F.log(F.lit(ALPHA) / F.lit(n_tgt + am))
                - F.log(F.lit(ALPHA) / F.lit(n_raw + am))
            )
            * 1e6
        )
        .cast("bigint")
    )
    oov_val = int(spark.range(1).select(oov.alias("v")).first()["v"])
    vals = [oov_val] * M_BUCKETS
    for r in ratio.collect():  # bounded: <= M_BUCKETS rows
        vals[int(r["bucket"], 16)] = r["m"]
    return _inrow_scored(
        docs, "doc_id", "text", _m_array_literal(spark, vals)
    ).select(
        F.col("_id").alias("doc_id"),
        "n_grams",
        F.round(F.col("lw_micro") / 1e6, 6).alias("log_w"),
    )
