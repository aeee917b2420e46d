#!/usr/bin/env python
"""Isolate and time individual queries with the noop sink (guide §1.4).

Usage: [MXS_PROBE_MODE=noop|count] [MXS_PROBE_RUNS=3] \
    python tools/q_probe.py q_a q_b ...

Per query: build the DataFrame (eager lifecycle work included in the
timing, matching bench.py accounting) and execute via the noop sink
(computes every column of every row) or .count() (the bench's wrapper).
Prints one JSON line with min-of-N and all raw runs, and beside them
the MiB each run wrote to storage: the ``write_bytes`` of this process,
the Spark JVM and its Python workers, read from /proc as
``perfbench/run.py`` reads them for ``write_amp`` (shuffle files are
most of it, so a shuffle change can be sized here).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = os.environ.get("MXS_PROBE_MODE", "noop")
    runs = int(os.environ.get("MXS_PROBE_RUNS", "3"))
    import procstats

    from magicxml_spark.queries import QUERIES
    from magicxml_spark.session import get_spark, release_persisted_rdds

    def written() -> int:
        return procstats.write_bytes(procstats.tree(os.getpid()))

    spark = get_spark("magicxml-q-probe")
    out: dict[str, dict] = {}
    for name in names:
        if name not in QUERIES:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        # warm-up at the smallest SF so codegen compilation is excluded
        warm = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
        if not os.path.isdir(warm):
            warm = sf_dir
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        try:
            dfw = QUERIES[name](spark, warm)
            if mode == "noop":
                dfw.write.format("noop").mode("overwrite").save()
            else:
                dfw.count()
        except Exception as exc:  # noqa: BLE001
            print(f"warm-up failed for {name}: {exc}", file=sys.stderr)
        release_persisted_rdds(spark)
        raw, mib = [], []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"probe[{i}]: {name}")
            w0 = written()
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            raw.append(round(time.perf_counter() - t0, 3))
            mib.append(round((written() - w0) / 2**20, 2))
            # isolate runs: drop the finished build's leaked
            # localCheckpoint blocks outside the timed region
            release_persisted_rdds(spark)
        out[name] = {"min": min(raw), "runs": raw, "written_mib": mib}
    print(json.dumps({"mode": mode, "sf_dir": sf_dir, "timings": out}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
