"""As-of (most-recent-match) join — a time-series operator the
reference lacks and Spark has no built-in for; standard in training-data
pipelines for stamping events with the latest preceding dimension state
(price as of trade time, config as of event time).

Spark-first design: the naive formulation (range join + per-key argmax)
explodes to O(left x right-per-key) pairs before pruning. Instead we use
the union + ordered-window formulation:

1. Union right rows (payload carried) with left rows (payload null)
   on the join key, tagging sides.
2. One window per key ordered by (timestamp, side) with
   ``last(payload, ignorenulls=True)`` over UNBOUNDED PRECEDING..CURRENT
   — each left row sees exactly the latest right row at-or-before it.
3. Keep the left side.

Cost: ONE shuffle on the key + a per-key sort — the same price as the
equi-join it replaces, with no pair explosion. At 100 TB the caveat is
key skew (one hot key's timeline sorts in one task); mitigate upstream
with key salting + re-merge.

Right-side ties (same key + timestamp) resolve deterministically by
``tie_break`` ordering; right rows sort BEFORE left rows at an equal
timestamp, so the match is inclusive (right.ts == left.ts matches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
) -> DataFrame:
    """For every left row, attach ``payload`` columns from the latest
    right row with the same key and ``right_ts <= left_ts`` (nulls when
    no such row). Right rows with equal key and timestamp have no
    defined order. Column names: left columns unchanged; payload columns
    keep their right-side names (must not collide)."""
    for c in payload:
        if c in left.columns:
            raise ValueError(f"payload column collides with left side: {c}")

    r = right.select(
        F.col(right_on).alias("_asof_key"),
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_asof_side"),
        *[F.col(c) for c in payload],
    )
    l = left.select(
        "*",
        F.col(left_on).alias("_asof_key"),
        F.col(left_ts).alias("_asof_ts"),
        F.lit(1).alias("_asof_side"),
    )
    both = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy("_asof_key")
        .orderBy(F.col("_asof_ts"), F.col("_asof_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = both.select(
        "*", *[F.last(c, ignorenulls=True).over(w).alias(f"_asof_{c}") for c in payload]
    )
    return (
        filled.filter(F.col("_asof_side") == 1)
        .drop(*payload)
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col(f"_asof_{c}").alias(c) for c in payload],
        )
    )


def interval_lookup_join(
    facts: DataFrame,
    dim: DataFrame | list[dict],
    value_col: str,
    max_compiled_intervals: int = 256,
) -> DataFrame:
    """Range join of a fact table against a SMALL interval dimension
    (``lo <= value < hi`` over the dimension's ``lo``/``hi`` columns),
    compiled to a constant lookup expression.

    Spark plans a non-equi join against a broadcast dimension as
    BroadcastNestedLoopJoin — every fact row linearly evaluates every
    interval's two comparisons. For the common case (a static tier /
    bucket / SLA table of tens of rows) the dimension is known at plan
    time, so this operator collects it (bounded by
    ``max_compiled_intervals`` — the same driver-side contract as a
    broadcast hint) and compiles the interval set into ONE
    CASE-expression lookup per dimension column: a fact row costs
    O(log t)-ish branch prediction instead of O(t) predicate
    evaluations, the join disappears from the plan entirely, and the
    scan stays a single whole-stage-codegen pass. Measured 2.6x on the
    q_range_join shape at sf1 forced (0.58 s BNLJ -> 0.22 s compiled;
    BASELINE.md round-5 residue table).

    Facts matching no interval are dropped (inner-join semantics);
    overlapping intervals would duplicate BNLJ output rows, which a
    single CASE cannot express — the guard rejects overlaps so the
    compiled form is exactly the join. Dimensions larger than the cap
    raise: fall back to the plain non-equi join there (at that size the
    linear predicate scan is the lesser cost and the CASE would blow
    past the codegen method-size limit anyway).
    """
    # A dimension that is ALREADY driver-side literals (the static
    # tier-table case) skips the collect round-trip entirely — even a
    # 3-row local collect costs ~0.5-0.9 s of job latency per call.
    if isinstance(dim, list):
        rows = dim
        dim_columns = list(rows[0].keys()) if rows else []
    else:
        rows = dim.limit(max_compiled_intervals + 1).collect()
        dim_columns = dim.columns
    if len(rows) > max_compiled_intervals:
        raise ValueError(
            f"interval dimension exceeds max_compiled_intervals="
            f"{max_compiled_intervals}; use a plain non-equi join"
        )
    ivs = sorted(rows, key=lambda r: (r["lo"], r["hi"]))
    for a, b in zip(ivs, ivs[1:]):
        if b["lo"] < a["hi"]:
            raise ValueError(
                f"overlapping intervals [{a['lo']}, {a['hi']}) and "
                f"[{b['lo']}, {b['hi']}): compiled lookup would drop "
                "the duplicate match a join would emit"
            )
    v = F.col(value_col)
    payload_cols = [c for c in dim_columns if c not in ("lo", "hi")]
    # the BNLJ this replaces keeps both sides' columns distinct; a
    # withColumn with a clashing name would silently OVERWRITE the fact
    # column — refuse instead of corrupting
    clashes = set(facts.columns) & set([*payload_cols, "lo", "hi"])
    if clashes:
        raise ValueError(
            f"fact columns {sorted(clashes)} collide with interval-dimension "
            "output columns; rename one side before interval_lookup_join "
            "(a join would keep both, a compiled lookup cannot)"
        )
    # ONE value-comparison CASE producing the interval index; payload
    # columns look up by integer index. Building a comparison chain per
    # payload column would re-evaluate every interval bound per column —
    # Catalyst performs no cross-expression CSE (the simhash lesson) —
    # and CollapseProject keeps `_iv_idx` a concrete attribute because
    # it is non-cheap and multiply referenced.
    idx = F.lit(None).cast("int")
    for i, r in enumerate(ivs):
        idx = F.when(
            (v >= F.lit(r["lo"])) & (v < F.lit(r["hi"])), F.lit(i)
        ).otherwise(idx)
    out = facts.withColumn("_iv_idx", idx).filter(F.col("_iv_idx").isNotNull())
    for c in [*payload_cols, "lo", "hi"]:
        expr = F.lit(None)
        for i, r in enumerate(ivs):
            expr = F.when(F.col("_iv_idx") == i, F.lit(r[c])).otherwise(expr)
        out = out.withColumn(c, expr)
    return out.drop("_iv_idx")
