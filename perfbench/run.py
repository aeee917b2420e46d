#!/usr/bin/env python3
"""Closed-loop benchmark of the magicxml_spark converter and query engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload feed_convert --seed 1 --seconds 10 --trace 0

One client in one process drives one local Spark session (one core per
CPU this process may run on). A run generates its inputs from the seed,
starts Spark and runs one warm-up pass on inputs of its own (``setup_s``),
then runs passes of the workload's operations until ``--seconds`` of
operation time have elapsed (at least one pass). Every output is checked
after its pass; a failed or wrong operation counts in ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs one
untraced pass, then one pass with every layer's public functions wrapped
in spans and Spark jobs tagged with their span, and prints the per-layer
metrics (see BENCHMARK.json); the spans and per-span engine counters are
written to ``perfbench/_work/traces/``. The last line of standard output
is the JSON result.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("feed_convert", "text_curation")
DRIVER_MEM = "4g"
RUN_BUDGET_S = 120.0  # no new pass starts after this much run time

# op_p50_s and fail_ratio are printed on the summary line only: a pass has
# 10 operations of different types, so their median flips between types
# from run to run, and fail_ratio is 0 on a correct program
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "write_amp": "ratio",
}

TRACED_LAYERS = (
    "plans.convert",
    "sources.xml_source",
    "sources.xml_split",
    "sources.csv_source",
    "operators.flatten",
    "operators.category_path",
    "operators.pruning",
    "sinks.csv_sink",
    "sinks.xml_sink",
    "sinks.json_sink",
    "tables",
    "streaming.events",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.langid",
    "operators.curation",
)
ATTRIBUTED_OPERATORS = ("dedup", "similarity", "text", "langid", "curation")


def per_layer_units() -> dict[str, str]:
    from workloads import TEXT_QUERIES

    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "plans.convert.xml_to_csv_fresh_s": "s",
        "plans.convert.xml_to_csv_reingest_s": "s",
        "plans.convert.csv_to_xml_s": "s",
        "plans.convert.csv_to_json_s": "s",
        "sources.xml_source.read_s": "s",
        "sources.xml_source.categories_s": "s",
        "sources.xml_source.jobs": "count",
        "sources.xml_source.input_mb": "MiB",
        "sources.xml_source.calls": "count",
        "sources.schema_registry.hit_ratio": "ratio",
        "sources.schema_registry.lookups": "count",
        "sources.xml_split.presplit_s": "s",
        "sources.xml_split.files": "count",
        "sources.csv_source.read_s": "s",
        "operators.flatten.build_s": "s",
        "operators.flatten.jobs": "count",
        "operators.flatten.out_columns": "count",
        "operators.category_path.build_s": "s",
        "operators.pruning.select_s": "s",
        "operators.pruning.jobs": "count",
        "operators.pruning.kept_ratio": "ratio",
        "sinks.csv_sink.write_s": "s",
        "sinks.csv_sink.out_mb": "MiB",
        "sinks.xml_sink.write_s": "s",
        "sinks.json_sink.write_s": "s",
        "sinks.calls": "count",
        "queries.build_s": "s",
        "queries.exec_s": "s",
    }
    for q in TEXT_QUERIES:
        units[f"queries.{q}.exec_s"] = "s"
    units.update({
        "tables.scan_mb": "MiB",
        "tables.scan_rows": "count",
        "tables.calls": "count",
        "streaming.events.exec_s": "s",
    })
    for m in ATTRIBUTED_OPERATORS:
        units[f"operators.{m}.exec_s"] = "s"
    units.update({
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MiB",
        "spark.shuffle_read_mb": "MiB",
        "spark.spill_mb": "MiB",
        "spark.task_skew": "ratio",
        "spark.busy_ratio": "ratio",
        "trace.wall_s": "s",
        "trace.untraced_wall_s": "s",
        "trace.overhead_ratio": "ratio",
        "trace.target_share": "ratio",
        "trace.spans": "count",
    })
    return units


# ---------------------------------------------------------------------------
# environment and Spark lifetime
# ---------------------------------------------------------------------------


def configure_env(work: str) -> None:
    """Keep every file the run (and Spark) writes inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap of fixed size: G1 grows a smaller one when its GC time share
        # runs high, which made the JVM's peak RSS jump by ~450 MiB between
        # runs of the same work
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM}"
        ),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def redirect_stream_checkpoints(work: str) -> None:
    """The streaming layer checkpoints under /dev/shm; keep it in ``work``."""
    from magicxml_spark.streaming import events

    events._checkpoint_dir = lambda name: os.path.join(work, "stream_ckpt", name)


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    import signal

    from pyspark import SparkContext

    import procstats

    pids = procstats.tree(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its driver
            proc.wait(timeout=60)
    if not procstats.wait_gone(pids, 20):
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        procstats.wait_gone(pids, 10)


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


def run_ops(spark, ops, tracer) -> list[tuple]:
    """Run ``ops`` back to back; return (op, result, error, seconds)."""
    from magicxml_spark.session import release_persisted_rdds

    done = []
    for op in ops:
        with tracer.span("bench", "op", kind=op.kind, target=op.name):
            t0 = time.perf_counter()
            try:
                res, err = op.run(tracer), None
            except Exception:
                res, err = None, traceback.format_exc()
            dt = time.perf_counter() - t0
        release_persisted_rdds(spark)
        done.append((op, res, err, dt))
    return done


def check_ops(done, label: str) -> int:
    """Check each output; print failures to stderr; return how many failed."""
    bad = 0
    for op, res, err, _ in done:
        ok = False
        if err is None:
            try:
                ok = bool(op.check(res))
            except Exception:
                err = traceback.format_exc()
        if not ok:
            bad += 1
            print(f"[{label}] {op.kind} {op.name}: FAILED\n{err or 'wrong output'}", file=sys.stderr)
    return bad


def run_pass(spark, wl, k: int, tracer) -> dict:
    import procstats
    from workloads import _size

    ops = wl.pass_ops(spark, f"p{k}")
    me = os.getpid()
    cpu0 = procstats.cpu_seconds(procstats.tree(me))
    w0 = procstats.write_bytes(procstats.tree(me))
    with tracer.span("bench", "pass", index=k) as rec:
        done = run_ops(spark, ops, tracer)
    cpu1 = procstats.cpu_seconds(procstats.tree(me))
    w1 = procstats.write_bytes(procstats.tree(me))
    failed = check_ops(done, f"pass {k}")
    return {
        "span": rec["id"],
        "wall": sum(d[3] for d in done),
        "op_times": [d[3] for d in done],
        "cpu": cpu1 - cpu0,
        "written": w1 - w0,
        "input": sum(op.input_bytes or _size(op.src) for op, *_ in done),
        "attempted": len(done),
        "failed": failed,
        "done": done,
    }


# ---------------------------------------------------------------------------
# traced pass -> per-layer metrics
# ---------------------------------------------------------------------------


def trace_hooks() -> dict[str, dict]:
    from magicxml_spark.sources.schema_registry import DEFAULT_REGISTRY
    from magicxml_spark.sources.xml_source import DIALECTS

    from workloads import _size

    def registry_lookup(rec, args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        key = kwargs.get("feed_key") or os.path.abspath(path)
        rec["registry_hit"] = any(DEFAULT_REGISTRY.get(d, key) is not None for d in DIALECTS)
        rec["input_bytes"] = os.path.getsize(path) if os.path.isfile(path) else 0

    def out_columns(rec, args, kwargs, out):
        rec["out_columns"] = len(out.columns)

    def kept(rec, args, kwargs, out):
        rec["kept"], rec["of"] = len(out), len(args[0].columns)

    return {
        "sources.xml_source": {"read_xml_records": (registry_lookup, None)},
        "sources.xml_split": {
            "presplit_xml": (None, lambda rec, a, kw, out: rec.update(files=len(out)))
        },
        "operators.flatten": {
            n: (None, out_columns)
            for n in ("flatten_offer_records", "flatten_russian_records", "flatten_service_records")
        },
        "operators.pruning": {"select_output_columns": (None, kept)},
        "sinks.csv_sink": {
            "write_csv": (None, lambda rec, a, kw, out: rec.update(out_bytes=_size(out)))
        },
    }


def layer_metrics(tracer, wl, traced: dict, untraced: dict, engine, setup: dict) -> dict:
    from spans import engine_totals, union_seconds

    stages, jobs = engine
    ids = set(tracer.subtree(traced["span"]))
    spans = [s for s in tracer.spans if s["id"] in ids]
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["t1"] - s["t0"]

    def outermost(pred):
        """Spans matching ``pred`` with no matching ancestor."""
        out = []
        for s in spans:
            if not pred(s):
                continue
            p = s["parent"]
            while p is not None and p in by_id and not pred(by_id[p]):
                p = by_id[p]["parent"]
            if p is None or p not in by_id:
                out.append(s)
        return out

    def layer(name, fns=None):
        return outermost(lambda s: s["layer"] == name and (fns is None or s["name"] in fns))

    def secs(ss):
        return sum(dur(s) for s in ss)

    def eng(ss):
        sub = set()
        for s in ss:
            sub.update(tracer.subtree(s["id"]))
        return engine_totals(sub, stages, jobs)

    def median(xs):
        return statistics.median(xs) if xs else 0.0

    ops = [s for s in spans if s["layer"] == "bench" and s["name"] == "op"]
    op_time = sum(dur(s) for s in ops)
    m = {"session.start_s": setup["start"], "session.warmup_s": setup["warmup"]}
    for kind in ("xml_to_csv_fresh", "xml_to_csv_reingest", "csv_to_xml", "csv_to_json"):
        m[f"plans.convert.{kind}_s"] = median([dur(s) for s in ops if s["kind"] == kind])

    reads = layer("sources.xml_source", {"read_xml_records"})
    m["sources.xml_source.read_s"] = secs(reads)
    m["sources.xml_source.categories_s"] = secs(layer("sources.xml_source", {"read_categories"}))
    m["sources.xml_source.jobs"] = eng(layer("sources.xml_source"))["jobs"]
    m["sources.xml_source.input_mb"] = sum(s["input_bytes"] for s in reads) / 2**20
    m["sources.xml_source.calls"] = sum(1 for s in spans if s["layer"] == "sources.xml_source")
    lookups = [s for s in spans if "registry_hit" in s]
    m["sources.schema_registry.lookups"] = len(lookups)
    m["sources.schema_registry.hit_ratio"] = (
        sum(s["registry_hit"] for s in lookups) / len(lookups) if lookups else 0.0
    )
    split = layer("sources.xml_split", {"presplit_xml"})
    m["sources.xml_split.presplit_s"] = secs(split)
    m["sources.xml_split.files"] = sum(s.get("files", 0) for s in split)
    m["sources.csv_source.read_s"] = secs(layer("sources.csv_source"))

    flat = layer("operators.flatten")
    m["operators.flatten.build_s"] = secs(flat)
    m["operators.flatten.jobs"] = eng(flat)["jobs"]
    m["operators.flatten.out_columns"] = sum(s.get("out_columns", 0) for s in flat)
    m["operators.category_path.build_s"] = secs(layer("operators.category_path"))
    prune = layer("operators.pruning")
    m["operators.pruning.select_s"] = secs(prune)
    m["operators.pruning.jobs"] = eng(prune)["jobs"]
    sel = [s for s in spans if "kept" in s]
    of = sum(s["of"] for s in sel)
    m["operators.pruning.kept_ratio"] = sum(s["kept"] for s in sel) / of if of else 0.0

    csv_out = layer("sinks.csv_sink", {"write_csv"})
    m["sinks.csv_sink.write_s"] = secs(csv_out)
    m["sinks.csv_sink.out_mb"] = sum(s.get("out_bytes", 0) for s in csv_out) / 2**20
    m["sinks.xml_sink.write_s"] = secs(layer("sinks.xml_sink"))
    m["sinks.json_sink.write_s"] = secs(layer("sinks.json_sink"))
    m["sinks.calls"] = sum(1 for s in spans if s["layer"].startswith("sinks."))

    builds = [s for s in spans if s["layer"] == "queries" and s["name"] == "build"]
    execs = [s for s in spans if s["layer"] == "queries" and s["name"] == "exec"]
    m["queries.build_s"] = secs(builds)
    m["queries.exec_s"] = secs(execs)
    units = per_layer_units()
    for name in units:
        if name.startswith("queries.q_"):
            q = name[len("queries."):-len(".exec_s")]
            m[name] = median([dur(s) for s in execs if s["query"] == q])
    scan = eng([s for s in ops if s["kind"] == "query"])
    m["tables.scan_mb"] = scan["input_bytes"] / 2**20
    m["tables.scan_rows"] = scan["input_rows"]
    m["tables.calls"] = sum(1 for s in spans if s["layer"] == "tables")
    m["streaming.events.exec_s"] = secs(layer("streaming.events"))

    # a query's whole time goes to the first operator module it calls
    attributed = dict.fromkeys(ATTRIBUTED_OPERATORS, 0.0)
    for op in ops:
        sub = set(tracer.subtree(op["id"]))
        called = sorted(
            (s for s in spans if s["id"] in sub and s["layer"].startswith("operators.")),
            key=lambda s: s["t0"],
        )
        mod = called[0]["layer"].split(".", 1)[1] if called else None
        if mod in attributed:
            attributed[mod] += dur(op)
    for mod, t in attributed.items():
        m[f"operators.{mod}.exec_s"] = t

    tot = eng(ops)
    cores = len(os.sched_getaffinity(0))
    m.update({
        "spark.jobs": tot["jobs"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": tot["shuffle_write"] / 2**20,
        "spark.shuffle_read_mb": tot["shuffle_read"] / 2**20,
        "spark.spill_mb": tot["spill"] / 2**20,
        "spark.task_skew": tot["task_skew"],
        "spark.busy_ratio": tot["run_ms"] / 1e3 / (op_time * cores) if op_time else 0.0,
    })

    targets = wl.target_layers()
    if targets == ("operators.",):
        # operator functions only build plans; their queries' execution
        # time counts through the attribution above
        covered = sum(attributed.values())
    else:
        covered = union_seconds([
            (s["t0"], s["t1"]) for s in spans if s["layer"].startswith(targets)
        ])
    m.update({
        "trace.wall_s": traced["wall"],
        "trace.untraced_wall_s": untraced["wall"],
        "trace.overhead_ratio": traced["wall"] / untraced["wall"],
        "trace.target_share": covered / op_time if op_time else 0.0,
        "trace.spans": len(spans),
    })
    return {k: m[k] for k in units}


def write_trace(path: str, tracer, engine, extra: dict) -> None:
    """Spans with their own engine counters, for offline inspection."""
    from spans import engine_totals

    stages, jobs = engine
    spans = []
    for s in tracer.spans:
        rec = dict(s)
        own = engine_totals({s["id"]}, stages, jobs)
        if own["jobs"] or own["tasks"]:
            rec["engine"] = own
        spans.append(rec)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({**extra, "spans": spans}, f)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    sys.path.insert(0, ROOT)
    try:
        from magicxml_spark.session import get_spark
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import procstats
    import workloads
    from spans import Tracer, read_event_log

    traced = bool(args.trace)
    wl = workloads.make(args.workload, args.seed, work)
    wl.prepare()
    prepare_s = time.perf_counter() - t_run
    tracer = Tracer()

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(work, traced))
    start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    try:
        redirect_stream_checkpoints(work)
        warm_ops = wl.warmup_ops(spark)
        t0 = time.perf_counter()
        warm = run_ops(spark, warm_ops, tracer)
        warmup_s = time.perf_counter() - t0
        warm_failed = check_ops(warm, "warm-up")

        procstats.reset_peak_rss([os.getpid(), jvm_pid])
        steal0 = procstats.cpu_ticks()
        passes = []
        while not passes or (
            not traced
            and sum(p["wall"] for p in passes) < args.seconds
            and time.perf_counter() - t_run < RUN_BUDGET_S
        ):
            passes.append(run_pass(spark, wl, len(passes), tracer))
        if traced:
            hooks = trace_hooks()
            for layer in TRACED_LAYERS:
                tracer.wrap_module(layer, hooks.get(layer))
            tracer.sc = spark.sparkContext
            try:
                passes.append(run_pass(spark, wl, len(passes), tracer))
            finally:
                tracer.unpatch()
                tracer.sc = None
                spark.sparkContext.setLocalProperty("perfbench.span", None)
        steal1 = procstats.cpu_ticks()
        peak_rss = procstats.peak_rss_mb([os.getpid(), jvm_pid])
        peak_driver = procstats.peak_rss_mb([os.getpid()])
    finally:
        t0 = time.perf_counter()
        stop_spark(spark, jvm_pid)
        stop_s = time.perf_counter() - t0

    attempted = sum(p["attempted"] for p in passes) + len(warm)
    failed = sum(p["failed"] for p in passes) + warm_failed
    timed = passes[:-1] if traced else passes
    setup = {"start": start_s, "warmup": warmup_s}
    if traced:
        logs = glob.glob(os.path.join(work, "eventlog", "*"))
        engine = read_event_log(logs[0])
        metrics = layer_metrics(tracer, wl, passes[-1], passes[0], engine, setup)
        units = per_layer_units()
        out_dir = os.path.join(HERE, "_work", "traces")
        os.makedirs(out_dir, exist_ok=True)
        write_trace(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
            tracer, engine, {"workload": args.workload, "seed": args.seed, "metrics": metrics},
        )
    else:
        metrics = {
            "setup_s": start_s + warmup_s,
            "wall_s": statistics.median(p["wall"] for p in timed),
            "cpu_s": statistics.median(p["cpu"] for p in timed),
            "peak_rss_mb": peak_rss,
            "write_amp": sum(p["written"] for p in timed) / sum(p["input"] for p in timed),
        }
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)

    # CPU time the hypervisor gave to other guests: the main source of
    # run-to-run spread on a shared machine
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    n_ops = sum(p["attempted"] for p in timed)
    op_p50 = statistics.median(t for p in timed for t in p["op_times"])
    print(
        f"phases: prepare {prepare_s:.2f}s start {start_s:.2f}s warm-up {warmup_s:.2f}s"
        f" passes {[round(p['wall'], 2) for p in passes]} (steal {steal:.1%}) stop {stop_s:.2f}s"
        f" peak rss driver {peak_driver:.0f} MiB + jvm {peak_rss - peak_driver:.0f} MiB"
        f" total {time.perf_counter() - t_run:.2f}s",
        file=sys.stderr,
    )
    for label, done in [("warm-up", warm)] + [(f"pass {i}", p["done"]) for i, p in enumerate(passes)]:
        for op, _, _, dt in done:
            print(f"{label} {op.kind} {op.name} {dt:.3f}s", file=sys.stderr)
    print(
        f"# {args.workload} seed={args.seed} passes={len(timed)} ops={n_ops}"
        f" setup_s={start_s + warmup_s:.3f} op_p50_s={op_p50:.3f}"
        f" fail_ratio={failed / attempted:.4f}"
        f" ({failed}/{attempted})"
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
