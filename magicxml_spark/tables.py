"""Testdata table loaders (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# SQL confs the engine depends on; all runtime-settable, so a session
# we did not build (e.g. the verification driver's) can be adopted.
_REQUIRED_SQL_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS) — unreadable otherwise
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp rendering vs external engines
    "spark.sql.session.timeZone": "UTC",
    # reference dict keys are case-sensitive ('ID' vs 'id')
    "spark.sql.caseSensitive": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for key, value in _REQUIRED_SQL_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf not recognized
            pass


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan: column pruning and filter
    pushdown come for free once downstream operators project/filter.

    events.ts has shipped as TIMESTAMP(NANOS) (read as a long under
    nanosAsLong, see session.py) and as plain TIMESTAMP micros (which
    Spark surfaces as TIMESTAMP_NTZ) — normalize both to TimestampType
    (LTZ) here so every operator sees one type. Session timezone is
    pinned to UTC, so the NTZ->LTZ cast is value-preserving and matches
    DuckDB's treatment of naive timestamps as UTC.

    Works on ANY session (confs are adopted at read time), so the
    verification driver's own SparkSession needs no special setup."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
