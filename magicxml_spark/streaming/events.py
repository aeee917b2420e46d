"""Streaming view of the events table: tumbling-window aggregation
with a watermark for late data.

The reference has no streaming surface (SURVEY §2.8) — its chunked
asyncio loop (main.py:98-112, 1518-1530) is batch work. This module is
the engine's forward-looking twin of ``q_events_windowed``: the same
logical aggregation as a Structured Streaming query, which on a real
cluster runs against Kafka/file drops with exactly-once sinks.

For tests and the correctness gate the stream is driven synchronously:
file source over the testdata parquet + availableNow trigger + memory
sink — deterministic, independent of wall-clock.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA_TEMPLATE = (
    "event_id bigint, ts {ts_type}, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, ts normalized to TimestampType
    exactly like tables.table.

    The testdata generator has shipped ts as both TIMESTAMP(NANOS)
    (which nanosAsLong surfaces as a raw long) and plain TIMESTAMP
    micros, so the unit is probed from the batch schema (footer
    metadata only — no data read) instead of hardcoded: forcing a
    bigint schema onto a micros column would silently misread micros
    as millis and bucket everything into 1970 windows.

    Adopts the required session confs like the batch path does — the
    verification driver's own SparkSession must work here too."""
    import os

    from magicxml_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    ts_is_long = probe["ts"].dataType.simpleString() == "bigint"
    schema = EVENTS_SCHEMA_TEMPLATE.format(ts_type="bigint" if ts_is_long else "timestamp")
    # the file source wants a directory: stream the SF dir, globbed to
    # the events table
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if ts_is_long:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling-window counts + sums with late-data watermark; works on
    both batch and streaming DataFrames (same Catalyst plan shape)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@contextmanager
def _stream_tuning(spark: SparkSession, state_partitions: int):
    """Right-size stateful-operator parallelism for the query's state
    cardinality. The session default (32) means 32 state-store
    instances each paying open/commit/fsync per micro-batch — for a
    windowed agg whose state is a few thousand (window, type) rows
    that fixed cost dominates. On a real cluster this knob scales with
    key cardinality, not executor count. Restored on exit so batch
    queries keep the session default."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _checkpoint_dir(name: str) -> str:
    """Checkpoint under tmpfs when available: the offset/commit/state
    logs of a test-lifecycle query are throwaway, and memory-backed
    fsync shaves the per-batch commit latency. Production streams pass
    their own durable location instead."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return os.path.join(base, "mxs_stream_ckpt", name)


def _drain_to_memory(
    spark: SparkSession, df: DataFrame, prefix: str, mode: str, state_partitions: int
) -> DataFrame:
    """Drive the streaming ``df`` to completion (availableNow) into a
    memory sink under ``state_partitions`` (see :func:`_stream_tuning`)
    and return what the sink holds. The returned frame keeps the rows
    it resolved, so the sink's temp view is dropped before returning —
    otherwise every run would leave a table holding its rows on the
    driver for the rest of the session — and the throwaway checkpoint
    is removed however the run ends."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = _checkpoint_dir(name)
    try:
        with _stream_tuning(spark, state_partitions):
            q = (
                df.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


# State partitions of the windowed aggregation: its state is
# (windows x types) — a few thousand rows at any SF here — so
# state-store instances are pure fixed cost (open/commit/fsync each).
# sf1 forced A/B: 4.64 s at 32, 1.82 s at 8, 1.48 s at 2
# (hash-identical; BASELINE.md round-6 residues). Scale it with
# state-key cardinality, not data volume.
WINDOW_STATE_PARTITIONS = 2
# State partitions of the other event streams (sessions, joins, sketches
# and dedup).
STATE_PARTITIONS = 8


def run_stream_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the streaming aggregation to completion (availableNow) and
    return the result as a DataFrame — complete output mode, so the
    memory table holds the final windows."""
    agg = windowed_event_counts(read_events_stream(spark, sf_dir))
    return _drain_to_memory(
        spark, agg, "events_windows", "complete", WINDOW_STATE_PARTITIONS
    )


def sessionized_counts(events: DataFrame) -> DataFrame:
    """Native session_window sessionization — same aggregation works on
    batch and streaming inputs (identical Catalyst plan shape). A
    session extends while the next event arrives strictly within
    30 minutes of the last; per (user, session) we report the start and
    event count."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def run_sessionize_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive streaming sessionization to completion (availableNow +
    memory sink, complete mode so final merged sessions are emitted).
    Deterministic — the batch session_window SQL is a valid oracle."""
    agg = sessionized_counts(read_events_stream(spark, sf_dir))
    return _drain_to_memory(spark, agg, "events_sessions", "complete", STATE_PARTITIONS)


def interval_join_events(
    clicks: DataFrame,
    purchases: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INNER interval join: for every left event, the
    right-side events of the same user in [left.ts, left.ts + within],
    within = 10 minutes under a 2-hour watermark.
    Works identically on batch frames (same plan shape minus state).

    Streaming semantics: inner stream-stream joins emit each match as
    soon as both sides have arrived — the watermark does not gate
    emission, it bounds the buffered state (each side holds rows only
    until the other side's watermark passes ts + within, then the state
    store evicts them; unbounded-state joins are rejected by Spark when
    no watermark + time bound is present). The time-range predicate is
    what makes eviction possible — an equi-join alone would buffer both
    streams forever.

    Output: (user_id, click_id, purchase_id, ms_after) with ms_after an
    exact integer millisecond difference (unix_micros subtraction, not
    float epoch math, so batch/stream/oracle agree bit-for-bit)."""
    if how not in ("inner", "left_semi", "left_outer"):
        # a typo like 'left'/'leftOuter' must not silently run an inner
        # join — unmatched rows would vanish without any signal
        raise ValueError(f"how must be inner|left_semi|left_outer, got {how!r}")
    c = (
        clicks.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        ).withWatermark("c_ts", "2 hours")
    )
    p = (
        purchases.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        ).withWatermark("p_ts", "2 hours")
    )
    cond = F.expr(
        "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"
    )
    if how == "left_semi":
        # semi joins also emit eagerly (first match releases the left
        # row, state remembers it emitted), so availableNow drains to
        # the exact EXISTS set — one row per qualifying left event
        return c.join(p, cond, "left_semi").select(
            F.col("c_user").alias("user_id"),
            "click_id",
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        )
    joined = c.join(p, cond, "leftOuter" if how == "left_outer" else "inner")
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (
            (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts")))
            / F.lit(1000)
        ).cast("bigint").alias("ms_after"),
    )


def run_interval_join_outer_to_memory(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Drive the stream-stream LEFT OUTER interval join to an
    oracle-exact result.

    The blocker this solves (round-3 TODO): outer NULL-extended rows
    emit only when the watermark passes ``left.ts + within``, and a
    drained availableNow source leaves the final watermark at
    ``max(event_ts) - delay`` — every click in the last
    ``delay + within`` of the feed would stay buffered and the outer
    rows would silently never emit. The fix is a watermark-flush
    SENTINEL staged as TWO extra files after the real events (far-
    future rows, one per side's event_type filter, ids/user negative so
    they can never join), file mtimes forcing the order under
    ``maxFilesPerTrigger=1``. Two because the watermark is applied one
    batch BEHIND the data that produced it: batch k processes with the
    watermark committed at the end of batch k-1, and availableNow
    terminates after the last file with NO closing no-data batch
    (measured: a single sentinel left the final click's outer row
    buffered forever). Sentinel batch 1 advances the watermark past
    every real ``ts + within``; sentinel batch 2 runs WITH that
    watermark and flushes the remaining outer state. The sentinels' own
    outer rows are filtered from the result. Batch LEFT JOIN over the
    same events is then an exact oracle.

    At scale the sentinel is exactly the standard end-of-feed
    punctuation a replayed/backfilled stream needs; a live feed never
    drains, so this concern is availableNow-specific."""
    import time

    feed = os.path.join(tempfile.gettempdir(), f"mxs_feed_{uuid.uuid4().hex[:8]}")
    os.makedirs(feed, exist_ok=True)
    try:
        from magicxml_spark.tables import table

        batch = table(spark, sf_dir, "events").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        max_ts = batch.agg(F.max("ts")).collect()[0][0]
        if max_ts is None:
            # zero events: the sentinel timestamps would interpolate the
            # literal "None" into SQL — fail clearly before writing the
            # feed instead of with a parser error mid-protocol
            raise ValueError(f"events table in {sf_dir} has no rows")
        _write_single_parquet(batch, os.path.join(feed, "b0.parquet"))

        def sentinel(days: int, ida: int, idb: int) -> DataFrame:
            ts = f"timestamp'{max_ts}' + interval {days} days"
            return spark.range(1).select(
                F.lit(ida).cast("bigint").alias("event_id"),
                F.expr(ts).cast("timestamp").alias("ts"),
                F.lit(ida).cast("bigint").alias("user_id"),
                F.lit("click").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            ).union(
                spark.range(1).select(
                    F.lit(idb).cast("bigint").alias("event_id"),
                    F.expr(ts).cast("timestamp").alias("ts"),
                    F.lit(idb).cast("bigint").alias("user_id"),
                    F.lit("purchase").alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit("{}").alias("props"),
                )
            )

        _write_single_parquet(sentinel(3, -1, -2), os.path.join(feed, "b1.parquet"))
        _write_single_parquet(sentinel(6, -3, -4), os.path.join(feed, "b2.parquet"))
        now = time.time()
        os.utime(os.path.join(feed, "b0.parquet"), (now - 120, now - 120))
        os.utime(os.path.join(feed, "b1.parquet"), (now - 60, now - 60))
        os.utime(os.path.join(feed, "b2.parquet"), (now, now))

        schema = EVENTS_SCHEMA_TEMPLATE.format(ts_type="timestamp")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(feed)
        )
        # NOTE: the sentinel filter must NOT be part of the
        # streaming plan — `click_id >= 0` is a null-rejecting
        # left-side predicate, so Catalyst pushes it below the
        # outer join and the watermark node, deleting the sentinel
        # click before it can advance the left watermark (measured:
        # the watermark then freezes at the last REAL click and the
        # tail's outer rows never flush). The memory sink receives
        # the sentinels' own outer rows and they are filtered
        # batch-side on return.
        out = interval_join_events(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
            how="left_outer",
        )
        drained = _drain_to_memory(spark, out, "events_ijo", "append", STATE_PARTITIONS)
    finally:
        shutil.rmtree(feed, ignore_errors=True)
    return drained.filter(F.col("click_id") >= 0)


def _write_single_parquet(df: DataFrame, dest: str) -> None:
    """Materialize a small DataFrame as ONE plain parquet file at
    ``dest`` (the streaming file source lists files, not directories,
    and the sentinel protocol needs per-file mtime control)."""
    import glob

    tmp = dest + ".dir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, dest)
    shutil.rmtree(tmp, ignore_errors=True)


def run_interval_join_to_memory(
    spark: SparkSession,
    sf_dir: str,
    how: str = "inner",
) -> DataFrame:
    """Drive the stream-stream interval join over the events table to
    completion (availableNow, append mode — inner joins emit on match,
    so the memory table holds every pair once the source drains)."""
    ev = read_events_stream(spark, sf_dir)
    out = interval_join_events(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        how=how,
    )
    return _drain_to_memory(spark, out, "events_ij", "append", STATE_PARTITIONS)


# --- Streaming HLL: distinct users per window at bounded state --------------


def windowed_hll_registers(events: DataFrame) -> DataFrame:
    """Streaming HyperLogLog register state: max-rho per (tumbling
    window, register index) of ``user_id``.

    Exact distinct-count in a stream needs one state row per distinct
    value — unbounded. The HLL register table IS the streaming-safe
    formulation: state is capped at windows x 1024 rows no matter how
    many distinct users flow through, and max() merges monotonically
    across micro-batches, so the drained register table is IDENTICAL
    to the batch computation on the same rows (test- and gate-pinned).
    The estimate fold (operators/sketches.hll_fold_registers) runs on
    the sink output — finishing in the query would need a second
    stateful aggregation."""
    from magicxml_spark.operators.sketches import hll_register

    idx, rho = hll_register(F.col("user_id").cast("string"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), idx.alias("register"))
        .agg(F.max(rho).alias("r"))
    )


def run_stream_hll_to_memory(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Drive the streaming register aggregation (availableNow,
    complete mode), then fold registers to per-window estimates
    batch-side. Output: (window_start, n_registers, hll_estimate,
    method)."""
    from magicxml_spark.operators.sketches import hll_fold_registers

    regs = windowed_hll_registers(read_events_stream(spark, sf_dir))
    drained = _drain_to_memory(
        spark, regs, "events_hll", "complete", STATE_PARTITIONS
    ).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "r",
    )
    return hll_fold_registers(drained, ["window_start"])


# --- Streaming Count-Min: per-window frequency sketch -----------------------


def windowed_cm_cells(events: DataFrame) -> DataFrame:
    """Streaming Count-Min cell state of ``event_type`` per tumbling
    window: counts are
    sum-mergeable across micro-batches (the additive dual of the HLL
    twin's max-merge), so state caps at windows x depth x width rows
    and the drained cells equal the batch sketch exactly."""
    from magicxml_spark.operators.sketches import cm_probes

    v = F.col("event_type").cast("string")
    return (
        events.withWatermark("ts", "2 hours")
        .select("ts", cm_probes(v).alias("_p"))
        .groupBy(F.window("ts", "1 hour"), F.col("_p.j").alias("j"), F.col("_p.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )


def run_stream_cm_to_memory(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Drain the streaming sketch, then point-query it batch-side for
    every distinct ``event_type`` (dimension-bounded) —
    output (window_start, value, cm_estimate)."""
    from magicxml_spark.operators.sketches import CM_DEPTH, cm_probes

    cells = windowed_cm_cells(read_events_stream(spark, sf_dir))
    sketch = _drain_to_memory(
        spark, cells, "events_cm", "complete", STATE_PARTITIONS
    ).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "j",
        "cell",
        "cell_count",
    )
    from magicxml_spark.tables import table as _table

    cands = (
        _table(spark, sf_dir, "events")
        .select(F.col("event_type").cast("string").alias("_val"))
        .distinct()
    )
    v = F.col("_val")
    probes = cands.select(v, cm_probes(v).alias("_p")).select(
        "_val", F.col("_p.j").alias("j"), F.col("_p.cell").alias("cell")
    )
    return (
        probes.join(sketch, ["j", "cell"])
        .groupBy("window_start", "_val")
        .agg(
            F.min("cell_count").alias("cm_estimate"),
            F.count(F.lit(1)).alias("_nj"),
        )
        # all depth cells must exist in that window — a partial join
        # (value absent, some cells never touched) must read as absent,
        # not as the min of whichever cells other values populated
        .filter(F.col("_nj") == CM_DEPTH)
        .select("window_start", F.col("_val").alias("event_type"), "cm_estimate")
    )
