"""SparkSession factory.

One place to encode the execution-model decisions that matter at 100 TB:
AQE on (runtime coalescing + skew-join handling), shuffle partitions
sized to the environment instead of the 200 default, Arrow transfer for
the pandas-UDF slow path, UTC session timezone so results are comparable
with external engines (DuckDB oracle, parquet readers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "magicxml-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    In local mode the driver JVM is the whole cluster; on a real
    cluster every setting here still applies (AQE re-plans shuffles at
    runtime, so ``shuffle_partitions`` is an upper bound, not a tuning
    cliff).

    ``spark.shuffle.sort.bypassMergeThreshold`` is 0, so every exchange
    takes the serialized writer. With at most 200 reduce partitions and
    no map-side combine (every SQL exchange at these partition counts)
    Spark would otherwise pick the bypass-merge writer, which writes one
    file per reduce partition and then copies them all into the map
    output: each shuffle byte hit the disk twice. The serialized writer
    sorts record pointers by partition in memory and, when a map task
    spills once, renames that spill to the output. A session that this
    function did not build keeps Spark's default, and so does one whose
    context was already running: ``getOrCreate`` applies only SQL
    settings to a running context.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]" if cpus else "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus or 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the reference's record dicts are case-sensitive ('ID' and 'id'
        # are distinct columns, main.py:447); Spark's default
        # case-insensitive resolution would make them ambiguous
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long, converted in tables.table()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # write each shuffle byte once: see the docstring
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 32g: a local-mode heap sized past
    the machine gets the JVM OOM-killed instead of spilling."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "32g"
    return f"{min(ram // 2, 32 << 30) >> 20}m"


def release_persisted_rdds(spark: SparkSession) -> int:
    """Unpersist (non-blocking) every RDD still registered in the
    context's persistent-RDD map and return how many were released.

    Why this exists: the engine materializes multi-consumer
    intermediates with ``localCheckpoint`` (plan-truncation, guide §5),
    and in a long-lived session those checkpointed RDD blocks are NOT
    reclaimed when the Python DataFrame goes out of scope — measured:
    ~8-10 persistent RDDs leak per composition-query build and survive
    both ``gc.collect()`` and a JVM ``System.gc()`` (a strong JVM-side
    reference keeps the ContextCleaner's weak refs from firing). A
    harness that builds hundreds of plans in one session (bench.py's
    warm-up + timed runs, the oracle-parity gate, q_probe) accumulates
    those blocks in storage memory and pays growing GC on every later
    query — the later measurements then charge the earlier queries'
    garbage, exactly what guide §1's isolate-each-query rule exists to
    prevent.

    Safety contract: call this only BETWEEN self-contained query
    builds. A localCheckpointed RDD has no lineage to recompute from,
    so unpersisting it breaks RE-EXECUTION of any still-live DataFrame
    that references it — harnesses that rebuild each measured plan from
    the registry (bench.py, q_probe, the parity gate) never do that."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.iterator()
    n = 0
    while it.hasNext():
        it.next()._2().unpersist(False)
        n += 1
    return n
