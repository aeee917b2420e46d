"""A1/A2: TF-IDF vectorization + PCA projection via Spark ML
(reference assets/TF-IDF Visualization/main.py:26-30 uses sklearn's
TfidfVectorizer + PCA(3); the Spark spelling is the ML Pipeline —
distributed fit, no driver-side matrix).

These produce ML vectors (float-heavy, sign/basis-indeterminate for
PCA), so they're covered by property tests rather than the DuckDB
value oracle; the SQL-checkable scalar core of TF-IDF lives in
queries/analytics.q_tfidf_top_terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tfidf_vectors(
    df: DataFrame,
    num_features: int = 1 << 12,
) -> DataFrame:
    """Tokenize -> HashingTF -> IDF. Returns df + a Vector column."""
    from pyspark.ml.feature import IDF, HashingTF, RegexTokenizer

    tok = RegexTokenizer(
        inputCol="text", outputCol="_tokens", pattern="\\s+", toLowercase=True
    )
    tf = HashingTF(inputCol="_tokens", outputCol="_tf", numFeatures=num_features)
    with_tf = tf.transform(tok.transform(df))
    idf = IDF(inputCol="_tf", outputCol="tfidf").fit(with_tf)
    return idf.transform(with_tf).drop("_tokens", "_tf")


def pca_project(df: DataFrame, k: int = 3) -> DataFrame:
    """PCA(k) over a Vector column (reference projects TF-IDF to 3-D)."""
    from pyspark.ml.feature import PCA

    model = PCA(k=k, inputCol="tfidf", outputCol="pca").fit(df)
    return model.transform(df)


# ---------------------------------------------------------------------------
# Model-based quality filtering (round 7): the GPT-3-class seed-rule
# classifier — train a logistic regression against seed labels, apply
# it corpus-wide (Brown et al. 2020 Appendix A train an LR quality
# classifier to filter Common Crawl; LLaMA / RedPajama follow suit).
# ---------------------------------------------------------------------------


def _assemble_bow(
    df: DataFrame, vocab: DataFrame, v: int, id_col: str, text_col: str
) -> DataFrame:
    """Shared dense bag-of-words assembly: term -> idx broadcast join,
    per-doc (idx -> count) map, dense double array of length v, ML
    Vector. Docs with zero in-vocab terms get the all-zero vector."""
    from pyspark.ml.functions import array_to_vector

    from magicxml_spark.operators.text import tokens

    tok = df.select(
        F.col(id_col).alias("_vid"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    counts = (
        tok.join(F.broadcast(vocab), "term")
        .groupBy("_vid", "idx")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("_vid")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("idx"), F.col("_n")))
            ).alias("_m")
        )
        .select(
            "_vid",
            F.transform(
                F.sequence(F.lit(0), F.lit(v - 1)),
                lambda i: F.coalesce(
                    F.element_at("_m", i).cast("double"), F.lit(0.0)
                ),
            ).alias("_arr"),
        )
    )
    out = df.join(counts, df[id_col] == counts["_vid"], "left").drop("_vid")
    empty = F.transform(F.sequence(F.lit(0), F.lit(v - 1)), lambda i: F.lit(0.0))
    return out.withColumn(
        "features", array_to_vector(F.coalesce(F.col("_arr"), empty))
    ).drop("_arr")


def vocab_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_vocab: int = 4096,
):
    """Deterministic bag-of-words feature vectors WITHOUT hashing
    collisions: the vocabulary is the corpus's ``max_vocab`` most
    frequent terms under a TOTAL (count desc, term asc) order, so the
    term -> index map is reproducible on any partitioning — unlike
    HashingTF (collisions) or CountVectorizer (tie order is not
    contractual). Out-of-vocab terms are dropped.

    Returns ``(df + "features" Vector, vocab_df(term, idx), v)``.

    Scale shape: one explode + one (term) aggregate, then the top
    ``max_vocab`` terms are taken with a DISTRIBUTED top-k
    (``orderBy().limit()`` = TakeOrdered: per-partition heaps + one
    driver merge of max_vocab rows) — the full distinct-term table is
    NEVER sorted in one task (distinct terms over raw web text scale
    with the corpus: urls, ids, typos). Only the ≤ max_vocab
    survivors pass through the idx-assignment window, which is
    dimension-sized by construction. Counts are assembled per doc via
    map_from_entries -> a DENSE double array -> ML Vector.
    The dense assembly bounds memory at 8 * v bytes per row — the cap
    is the contract (4096 default = 32 KB/row); a wider vocab needs a
    sparse assembler, which Spark cannot build inside codegen, so
    cap-and-document is the honest spelling."""
    from pyspark.sql import Window

    from magicxml_spark.operators.text import tokens

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("term"))
    # TakeOrdered (distributed top-k) BEFORE the ranking window: the
    # window input is then at most max_vocab rows, so the single
    # in-memory partition it sorts is bounded by the caller's cap,
    # never by the corpus's distinct-term count
    top = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), "term")
        .limit(max_vocab)
    )
    w = Window.orderBy(F.desc("_c"), "term")
    # Materialize the vocab ONCE (≤ max_vocab rows by construction):
    # every downstream broadcast of it — the trainer's featurization,
    # the scorer's, any extra action — would otherwise re-execute the
    # full tokenize + aggregate + top-k subtree per consumer
    # (measured: the subtree ran 3x in the quality-paragraphs
    # lifecycle). The count() then reads the checkpoint for free.
    vocab = (
        top.withColumn("idx", F.row_number().over(w) - 1)
        .select("term", "idx")
        .localCheckpoint(eager=True)
    )
    v = max(vocab.count(), 1)
    return _assemble_bow(df, vocab, v, id_col, text_col), vocab, v


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_vocab: int = 4096,
    max_iter: int = 100,
):
    """Fit the GPT-3-class quality LR on seed labels: bag-of-words
    features (:func:`vocab_features`) -> LogisticRegression (JVM
    L-BFGS, distributed treeAggregate gradients — no driver-side
    matrix). Brown et al. 2020 Appendix A filter Common Crawl with
    exactly this shape of model; LLaMA / RedPajama follow suit.
    Returns ``(model, vocab_df, v)``; apply with :func:`score_quality`
    using the SAME vocab so train/apply feature spaces agree.
    regParam stays 0 (the published classifiers are unregularized LR
    over tf/tf-idf features; callers retune)."""
    from pyspark.ml.classification import LogisticRegression

    feats, vocab, v = vocab_features(df, id_col, text_col, max_vocab)
    # LogisticRegression does NOT persist its input: without a cache,
    # every one of the ~max_iter treeAggregate iterations would
    # re-execute the whole tokenize -> join -> assemble lineage
    # (measured ~3x the fit cost at sf1). Persist for the fit only.
    feats = feats.persist()
    try:
        # The fit runs ~max_iter treeAggregate passes, and each pass
        # pays per-partition scheduling + combine overhead (~0.2 s per
        # iteration at 32 partitions on this box) regardless of row
        # count — on a small training frame the fit is pure overhead
        # (measured sf0.1: 7.1 s at 32 partitions vs 1.3 s at 1,
        # coefficients identical). Size the fit partitioning from the
        # ACTUAL row count (the count doubles as the cache warm-up),
        # capped at defaultParallelism so big fits keep every core:
        # scale-adaptive, not a local-core-count constant. The planted
        # -rule invariant is prediction-level, not coefficient-bit-
        # level, so the partitioning is free to change.
        n = feats.count()
        par = df.sparkSession.sparkContext.defaultParallelism
        nparts = max(1, min(par, n // 20_000 + 1))
        cur = feats.rdd.getNumPartitions()
        if nparts < cur:
            fit_in = feats.coalesce(nparts)  # narrow read of the cache
        elif nparts > cur:
            fit_in = feats.repartition(nparts)  # one shuffle of cached rows
        else:
            fit_in = feats
        lr = LogisticRegression(
            featuresCol="features", labelCol=label_col, maxIter=max_iter, regParam=0.0
        )
        model = lr.fit(fit_in)
    finally:
        feats.unpersist()
    return model, vocab, v


def score_quality(
    df: DataFrame,
    model,
    vocab: DataFrame,
    v: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained quality classifier corpus-wide using the
    training vocabulary (term -> idx join, same dense assembly).
    Adds ``quality_pred`` (0/1 prediction) and ``quality_prob``
    (P(label=1)). The model is coefficient-sized; scoring is one
    explode + one broadcast join + the JVM model transform — no
    Python UDF anywhere."""
    from pyspark.ml.functions import vector_to_array

    feats = _assemble_bow(df, vocab, v, id_col, text_col)
    scored = model.transform(feats)
    return (
        scored.withColumn("quality_pred", F.col("prediction").cast("int"))
        .withColumn(
            "quality_prob",
            F.round(F.element_at(vector_to_array(F.col("probability")), 2), 6),
        )
        .drop("features", "rawPrediction", "probability", "prediction")
    )
