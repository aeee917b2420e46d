"""Z-order data layout: multi-dimensional clustering for file skipping.

At 100 TB the cheapest query is the one that never reads the file:
parquet scans prune on per-file/row-group min-max statistics, but
those statistics only help if the WRITE clustered related rows
together. Range-partitioning on one column prunes one predicate;
interleaving the bits of several bucketed columns (the Morton / Z-order
curve, the same scheme behind Delta Lake's OPTIMIZE ZORDER BY) gives
every interleaved dimension partial locality, so a conjunctive
range predicate skips most files on EACH dimension.

All pure Column arithmetic: per-column min-max normalization (the
1-row bounds frame broadcast back, as in the histogram sketch),
bucketing to ``bits`` bits, then bit interleaving as a sum of shifts —
deterministic, codegen-resident, and reproducible in a DuckDB oracle
from the identical expression text.

The write side is repartitionByRange(zkey) + sortWithinPartitions(zkey)
and a parquet write — exactly what a table-maintenance OPTIMIZE job
runs at scale. The test suite quantifies the payoff by reading
per-file min-max back and counting files a box predicate cannot skip
(z-ordered layout: few; single-column layout: all files on the other
dimension).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 10  # per-dimension bucket bits (2 dims -> 20-bit key)


def bucketize(col: Column, lo: Column, hi: Column) -> Column:
    """Min-max bucket to [0, n = 2^ZORDER_BITS): floor((x-lo)/(hi-lo)*n),
    clamped; degenerate constant columns collapse to bucket 0."""
    n = 1 << ZORDER_BITS
    return (
        F.when(hi == lo, F.lit(0))
        .otherwise(
            F.least(
                F.lit(n - 1),
                F.floor((col.cast("double") - lo) / (hi - lo) * n),
            )
        )
        .cast("bigint")
    )


def interleave_bits(a: Column, b: Column) -> Column:
    """Morton interleave of two ``ZORDER_BITS``-bit integers: a's bit i lands
    at position 2i+1, b's at 2i. A sum of shifted masked terms — the
    optimizer folds it into one codegen expression."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        terms.append(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
    return reduce(lambda x, y: x + y, terms)


def zorder_key(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Append ``zkey``: the Morton code of the two columns' min-max
    buckets. Bounds come from one exact aggregation broadcast back —
    no collect, no second job."""
    bounds = df.agg(
        F.min(F.col(col_a).cast("double")).alias("_alo"),
        F.max(F.col(col_a).cast("double")).alias("_ahi"),
        F.min(F.col(col_b).cast("double")).alias("_blo"),
        F.max(F.col(col_b).cast("double")).alias("_bhi"),
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))
    # buckets become concrete attributes BEFORE interleaving — the
    # interleave references each bucket `bits` times and Catalyst does
    # no cross-expression CSE (the repo-wide rule), so inlining would
    # evaluate the normalization division 2*bits times per row
    bucketed = with_bounds.select(
        *df.columns,
        bucketize(F.col(col_a), F.col("_alo"), F.col("_ahi")).alias("_ba"),
        bucketize(F.col(col_b), F.col("_blo"), F.col("_bhi")).alias("_bb"),
    )
    return bucketed.select(
        *df.columns,
        interleave_bits(F.col("_ba"), F.col("_bb")).alias("zkey"),
    )


def interleave_sql(a_expr: str, b_expr: str) -> str:
    """The oracle twin of interleave_bits — generated from the same
    loop so the bit layout cannot drift."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({a_expr} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b_expr} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def bucketize_sql(col: str, lo: str, hi: str) -> str:
    n = 1 << ZORDER_BITS
    return (
        f"CASE WHEN {hi} = {lo} THEN 0 ELSE CAST(least({n - 1}, "
        f"floor((CAST({col} AS DOUBLE) - {lo}) / ({hi} - {lo}) * {n})) AS BIGINT) END"
    )
