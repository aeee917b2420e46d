"""BM25 ranked retrieval (Robertson et al., Okapi BM25; the Lucene
non-negative IDF variant) — the retrieval-based data-selection arm of
the pipeline family: "find the crawl documents most relevant to this
query/domain description" is a standard curation primitive alongside
DSIR's distribution-matching arm (operators/dsir.py).

score(D, Q) = sum over t in Q of
    idf(t) * tf(t,D) * (k1 + 1) / (tf(t,D) + k1 * (1 - b + b*|D|/avgdl))
with idf(t) = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))  (always >= 0,
the Lucene smoothing of the classic RSJ weight).

Scale shape: ONE tokenize pass over the corpus (a compact
(id, doclen, query-term-hits) projection, localCheckpointed because it
feeds both the tf explode and the corpus-stats agg — measured 2.60 vs
1.94 s at sf1 forced), pre-repartitioned to defaultParallelism (the
LM-family scan-parallelism rule; the no-shuffle spelling measured
4.19 s on sf1's 2-split layout). The query-term filter lands inside
the projection, so the explode fans out only matching tokens; corpus
stats (N, total token count) broadcast as a 1-row crossJoin; the df
table is at most |Q| rows (AQE broadcasts it); the final top-k is a
distributed TakeOrdered. Per-(doc, term) contributions pre-round to
integer micro-units so the document score is an exact integer sum
(the repo-wide engine-exactness contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magicxml_spark.operators.text import tokens as _tokens


def _bm25_contrib(k1: float, b: float):
    """The per-(doc, term) BM25 contribution as a Column over the
    standard column names (tf, dl, df, n_docs, total_len). ONE
    definition — the direct, batch, and frozen-index paths must score
    with the identical expression tree (the micro-rounding parity
    contract depends on the exact float association order)."""
    n_docs = F.col("n_docs").cast("double")
    avgdl = F.col("total_len").cast("double") / n_docs
    idf = F.log(1.0 + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_c = F.col("tf").cast("double")
    norm = tf_c + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
    return idf * tf_c * (k1 + 1.0) / norm


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-k documents by BM25 score for a bag of query terms.

    Returns (id, n_hits, score) sorted by score desc (micro-rounded;
    id breaks ties). ``n_hits`` = number of DISTINCT query terms the
    document contains. Documents matching no term never surface (their
    score is exactly 0 and retrieval only ranks matches).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    sc = df.sparkSession.sparkContext
    words = _tokens(F.col("_t"))
    terms = [t.lower() for t in query_terms]

    base = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).repartition(sc.defaultParallelism)
    # ONE tokenize pass: doc length + query-term hits in a single
    # compact projection, materialized once (localCheckpoint — it
    # feeds the tf explode AND the corpus-stats agg; the two-consumer
    # spelling re-ran the regex split per consumer, measured 2.60 vs
    # 1.94 s at sf1 forced). The checkpointed frame is (id, dl, hits):
    # bytes-per-row bounded by |Q| matches, not the document text.
    pre = base.select(
        "_id",
        F.size(words).alias("dl"),
        F.filter(words, lambda t: t.isin(terms)).alias("hits"),
    ).localCheckpoint(eager=True)
    # the explode fans out |Q|-filtered tokens, not the corpus
    tok = pre.select("_id", "dl", F.explode("hits").alias("term"))
    # N = collection size (BM25's N is all docs, not matching docs)
    stats = pre.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    tf = tok.groupBy("_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    contrib = _bm25_contrib(1.2, 0.75)

    scored = (
        tf.join(dfreq, "term")  # <=|Q| rows; AQE broadcasts
        .crossJoin(F.broadcast(stats))  # 1 row
        .select(
            "_id",
            F.round(contrib * 1e6).cast("bigint").alias("m"),
        )
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_hits"), F.sum("m").alias("s_micro"))
    )
    return (
        scored.orderBy(F.desc("s_micro"), "_id")
        .limit(k)
        .select(
            F.col("_id").alias(id_col),
            "n_hits",
            F.round(F.col("s_micro") / 1e6, 6).alias("score"),
        )
    )


def bm25_topk_per_query(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    k: int = 10,
    max_compiled_terms: int = 1000,
) -> DataFrame:
    """Batch retrieval: top-k documents PER QUERY for a whole queries
    table (query_id, term) — the inverted-index shape. tf/df aggregate
    per (doc, term) ONCE regardless of how many queries share a term;
    the per-query cut is a row_number window over query_id, which
    WindowGroupLimit bounds to k rows per group before the final
    shuffle.

    Term matching has two arms (the guarded-compile pattern from
    category_path/asof): when the query workload has at most
    ``max_compiled_terms`` distinct terms, they collect (a
    workload-bounded, cap-guarded driver collect) into a literal
    filter INSIDE the tokenize projection — only matching tokens
    explode, the :func:`bm25_topk` fast path (measured 5.54 -> fast
    at sf1: the full-corpus explode is the cost). Above the cap, the
    general arm explodes the full token stream and inner-joins the
    distinct-terms dimension (hint-free — AQE broadcasts it while it
    measures small).

    Output: (query_id, id, n_hits, score) — at most k docs per query,
    ordered within each query by score desc (id breaks ties). Queries
    whose terms match nothing emit no rows."""
    sc = df.sparkSession.sparkContext
    from pyspark.sql import Window

    words = _tokens(F.col("_t"))
    base = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).repartition(sc.defaultParallelism)
    # set semantics per query, matching bm25_topk's bag-of-DISTINCT
    # terms: duplicate (query_id, term) rows would otherwise fan the
    # post-scoring join out once per row, inflating s_micro and n_hits
    # (ADVICE r9 — the two entry points must agree on the same logical
    # query)
    q = queries.select(
        F.col("query_id").alias("query_id"),
        F.lower(F.col("term")).alias("term"),
    ).distinct()
    terms_dim = q.select("term").distinct()
    compiled = terms_dim.limit(max_compiled_terms + 1).collect()
    if len(compiled) <= max_compiled_terms:
        terms = [r["term"] for r in compiled]
        pre = base.select(
            "_id",
            F.size(words).alias("dl"),
            F.filter(words, lambda t: t.isin(terms)).alias("hits"),
        ).localCheckpoint(eager=True)
        tok = pre.select("_id", "dl", F.explode("hits").alias("term"))
        stats = pre.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
        )
    else:
        tok = base.select(
            "_id", F.size(words).alias("dl"), F.explode(words).alias("term")
        ).join(terms_dim, "term")
        stats = base.select(F.size(words).alias("dl")).agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
        )
    tf = tok.groupBy("_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    contrib = _bm25_contrib(1.2, 0.75)

    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))  # 1 row
        .select("_id", "term", F.round(contrib * 1e6).cast("bigint").alias("m"))
        .join(q, "term")  # fan out per query AFTER the per-term math
        .groupBy("query_id", "_id")
        .agg(F.count(F.lit(1)).alias("n_hits"), F.sum("m").alias("s_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s_micro"), "_id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            "query_id",
            F.col("_id").alias(id_col),
            "n_hits",
            F.round(F.col("s_micro") / 1e6, 6).alias("score"),
        )
    )


# --- frozen BM25 index lifecycle ----------------------------------------------
# The search-engine shape: tokenize and aggregate the corpus ONCE into
# a persisted inverted index, then answer any number of query batches
# O(index-probe) without touching corpus text again — the same
# amortization pattern as the DSIR/LM snapshot families (and like
# DSIR, the statistics are additive, so appends stay exact).


def write_bm25_index(
    df: DataFrame,
    path: str,
) -> dict:
    """Build and persist the full inverted index: ``{path}/postings``
    (term, id, tf, dl — one row per distinct (term, doc)),
    ``{path}/stats`` (n_docs, total_len). The postings table carries
    EVERY term (index-time cost, query-time freedom); df(term) is
    derivable (count of postings per term) so it is not stored —
    queries aggregate it from the probed slice, which AQE keeps
    broadcast-sized. Returns ``{"n_docs"}``; the build is write-only."""
    import os

    spark = df.sparkSession
    sc = spark.sparkContext
    words = _tokens(F.col("_t"))
    base = df.select(
        F.col("doc_id").alias("_id"), F.col("text").alias("_t")
    ).repartition(sc.defaultParallelism)
    # ONE tokenize pass: the (id, dl, words) frame feeds the postings
    # explode AND the corpus stats — without the checkpoint each
    # consumer re-runs the regex split over the full corpus (the
    # bm25_topk two-consumer lesson; the materialized bytes are the
    # tokenized corpus, the _lm_positions trade)
    pre = base.select(
        "_id", F.size(words).alias("dl"), words.alias("_w")
    ).localCheckpoint(eager=True)
    postings = (
        pre.select("_id", "dl", F.explode("_w").alias("term"))
        .groupBy("term", "_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
    )
    stats = pre.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    # postings and stats both read only the checkpointed pre frame —
    # submit the two writes concurrently so their jobs overlap
    # (guide §2.6) instead of paying two sequential job latencies
    from concurrent.futures import ThreadPoolExecutor

    def _write(item: tuple[str, DataFrame]) -> None:
        sub, df_k = item
        df_k.write.mode("overwrite").parquet(os.path.join(path, sub))

    # n_docs == stats.n_docs == the checkpointed pre frame's row count
    # by construction — counted concurrently with the writes instead
    # of reading the stats parquet back afterwards
    with ThreadPoolExecutor(max_workers=3) as pool:
        n_docs_f = pool.submit(pre.count)
        list(pool.map(_write, [("postings", postings), ("stats", stats)]))
        return {"n_docs": int(n_docs_f.result())}


def query_bm25_index(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Answer one query against a frozen index: probe the postings for
    the query terms (a pushed-down IN filter on the parquet scan — the
    probe reads only matching row groups), derive df from the probed
    slice, score, TakeOrdered top-k. Never touches corpus text.
    Output matches :func:`bm25_topk`: (id, n_hits, score)."""
    import os

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    postings = spark.read.parquet(os.path.join(path, "postings")).filter(
        F.col("term").isin(terms)
    )
    stats = spark.read.parquet(os.path.join(path, "stats"))
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    contrib = _bm25_contrib(1.2, 0.75)

    scored = (
        postings.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))  # 1 row
        .select("_id", F.round(contrib * 1e6).cast("bigint").alias("m"))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_hits"), F.sum("m").alias("s_micro"))
    )
    return (
        scored.orderBy(F.desc("s_micro"), "_id")
        .limit(k)
        .select(
            F.col("_id").alias("doc_id"),
            "n_hits",
            F.round(F.col("s_micro") / 1e6, 6).alias("score"),
        )
    )
