"""What a shuffle writes: each map output reaches the disk once, and the
TF-IDF query shuffles per-term partial counts, not (term, doc) pairs."""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _jvm_write_bytes(spark) -> int:
    pid = spark.sparkContext._gateway.proc.pid
    try:
        with open(f"/proc/{pid}/io") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("write_bytes:"))
    except (OSError, StopIteration) as exc:
        pytest.skip(f"/proc/{pid}/io is unreadable: {exc}")


def _shuffle_data_files(spark) -> dict[str, int]:
    dirs = spark._jvm.org.apache.spark.SparkEnv.get().blockManager().diskBlockManager().localDirs()
    return {
        p: os.path.getsize(p)
        for d in dirs
        for p in glob.glob(os.path.join(d.getAbsolutePath(), "*", "shuffle_*.data"))
    }


def test_shuffle_map_output_written_once(spark):
    """The bypass-merge writer (Spark's pick for at most 200 reduce
    partitions) writes one file per reduce partition and copies them
    all into the map output, so the JVM writes each shuffle byte twice;
    the session's serialized writer writes it once."""
    before = set(_shuffle_data_files(spark))
    w0 = _jvm_write_bytes(spark)
    (
        spark.range(0, 40_000, numPartitions=4)
        .select("id", F.sha2(F.col("id").cast("string"), 512).alias("h"))
        .repartition(8)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    written = _jvm_write_bytes(spark) - w0
    data = sum(n for p, n in _shuffle_data_files(spark).items() if p not in before)
    assert data > 2 << 20, data
    if written < data // 2:
        # tmpfs pages never reach block writeback, so write_bytes stays 0
        pytest.skip(f"local dirs not on a block device: {written} bytes written for {data}")
    assert written / data < 1.5, (written, data)


def test_tfidf_shuffles_no_doc_id_pairs(spark):
    """``countDistinct(doc_id)`` per term shuffles every distinct
    (term, doc) pair, keyed on both; the partial counts shuffle by term."""
    from magicxml_spark.queries import QUERIES

    df = QUERIES["q_tfidf_top_terms"](spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys, plan
    assert not [k for k in keys if "doc_id" in k], plan
