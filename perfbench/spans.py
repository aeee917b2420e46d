"""Spans around the program's layers, recorded from outside the program.

``Tracer.wrap_module`` replaces every public function of a
``magicxml_spark`` module with a wrapper that records a span (layer,
name, start, end, parent) and restores the originals on ``unpatch``. A
function imported by name into another module is replaced there too.
While a span is open its id is the Spark local property
``perfbench.span``, so every Spark job and stage launched inside it
carries the id into the event log; ``read_event_log`` turns the log into
per-stage engine counters that ``engine_totals`` attributes to spans.
Spans stay in memory until the run writes them out at exit.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import statistics
import sys
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None  # SparkContext while jobs are being tagged
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "layer": layer, "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROPERTY, None if parent is None else str(parent)
                )

    def wrap_module(self, layer: str, hooks: dict | None = None) -> None:
        """Trace every public plain function defined in
        ``magicxml_spark.<layer>``. ``hooks`` maps a function name to
        ``(before(rec, args, kwargs), after(rec, args, kwargs, result))``."""
        mod = importlib.import_module(f"magicxml_spark.{layer}")
        for name, fn in list(vars(mod).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
                or inspect.isgeneratorfunction(fn)
            ):
                continue
            self._patch(fn, self._wrapper(layer, fn, (hooks or {}).get(name)))

    def _wrapper(self, layer: str, fn, hook):
        before, after = hook or (None, None)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__) as rec:
                if before:
                    before(rec, args, kwargs)
                out = fn(*args, **kwargs)
                if after:
                    after(rec, args, kwargs, out)
                return out

        return traced

    def _patch(self, fn, wrapper) -> None:
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("magicxml_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)
                    self._patches.append((mod, attr, fn))

    def unpatch(self) -> None:
        for mod, attr, fn in reversed(self._patches):
            setattr(mod, attr, fn)
        self._patches.clear()

    def subtree(self, sid: int) -> list[int]:
        """``sid`` and every span opened inside it."""
        kids: dict[int | None, list[int]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s, ()))
        return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_STAGE_KEYS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read",
    "spill", "input_bytes", "input_rows",
)


def _new_stage() -> dict:
    d = {k: 0 for k in _STAGE_KEYS}
    d["span"] = None
    d["task_ms"] = []
    return d


def read_event_log(path: str) -> tuple[dict[int, dict], dict[int, int | None]]:
    """Per-stage counters and job -> span id from one uncompressed,
    non-rolling event log file. Stage dicts hold the ``_STAGE_KEYS``
    totals, the span id and the list of task run times."""
    stages: dict[int, dict] = {}
    jobs: dict[int, int | None] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:60]
            if "SparkListenerTaskEnd" in head:
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                sr = m.get("Shuffle Read Metrics") or {}
                inp = m.get("Input Metrics") or {}
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["task_ms"].append(m.get("Executor Run Time", 0))
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["spill"] += m.get("Disk Bytes Spilled", 0)
                st["input_bytes"] += inp.get("Bytes Read", 0)
                st["input_rows"] += inp.get("Records Read", 0)
            elif "SparkListenerStageSubmitted" in head:
                ev = json.loads(line)
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                st = stages.setdefault(ev["Stage Info"]["Stage ID"], _new_stage())
                st["span"] = int(span) if span is not None else None
            elif "SparkListenerJobStart" in head:
                ev = json.loads(line)
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                jobs[ev["Job ID"]] = int(span) if span is not None else None
    return stages, jobs


def engine_totals(span_ids: set[int], stages: dict, jobs: dict) -> dict:
    """Engine counters of the stages and jobs launched inside ``span_ids``;
    ``task_skew`` is the worst stage's max/median task run time."""
    tot = {k: 0 for k in _STAGE_KEYS}
    skew = 1.0
    for st in stages.values():
        if st["span"] not in span_ids:
            continue
        for k in _STAGE_KEYS:
            tot[k] += st[k]
        if len(st["task_ms"]) >= 2:
            med = statistics.median(st["task_ms"])
            if med > 0:
                skew = max(skew, max(st["task_ms"]) / med)
    tot["jobs"] = sum(1 for s in jobs.values() if s in span_ids)
    tot["task_skew"] = skew
    return tot


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
