"""Key-distribution profiling: the measurement step behind every skew
decision in this engine (salting width, AQE skew-join expectations,
broadcast-vs-shuffle calls).

At 100 TB you do not discover a hot key by OOMing an executor — you run
``key_skew_profile`` on the join/agg key first (one aggregation, the
profile output is top-N rows) and read off whether the heaviest key's
share justifies salting (the q_salted_agg two-phase template) or the
skew is within AQE's split threshold. The profile is itself
scale-safe: one hash aggregation with map-side partial counts, one
scalar aggregate for the totals, a broadcast of that single totals row
back onto the top-N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Top-N heaviest keys of ``key_col`` with the stats a partitioning
    decision needs:

    * ``n_rows``      — rows carrying this key (= shuffle partition size
                        if the key hashes alone)
    * ``rank``        — by n_rows desc, key asc (deterministic)
    * ``pct_of_total``— this key's share of all rows, percent, 4dp
    * ``skew_ratio``  — n_rows / mean-rows-per-distinct-key: ~1 means
                        uniform; >> shuffle-partition count means one
                        task drags the stage and salting pays

    Scale shape: groupBy(key) count (map-side partial), then the top-N
    via orderBy().limit() — Spark's TakeOrderedAndProject, a per-
    partition top-N merged on the driver, NOT a global sort and NOT a
    single-task window (the counted table has one row per distinct key,
    which at corpus scale is billions). row_number ranks only the ≤ N
    surviving rows; ONE summary row cross-joins back broadcast.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_n_keys"),
    )
    top = counts.orderBy(F.desc("n_rows"), "key").limit(top_n)
    w = W.orderBy(F.desc("n_rows"), "key")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            "rank",
            F.round(F.col("n_rows") * 100.0 / F.col("_total"), 4).alias(
                "pct_of_total"
            ),
            # multiply in DOUBLE: n_rows * n_keys as long*long overflows
            # at exactly the billions-of-keys scale this module targets
            F.round(
                F.col("n_rows").cast("double") * F.col("_n_keys") / F.col("_total"), 4
            ).alias("skew_ratio"),
        )
    )
