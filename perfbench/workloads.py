"""The two workloads: their seeded inputs, operations and output checks.

A workload yields passes. A pass is a fixed amount of work: the same
operations on inputs of the same size in every pass and for every seed.
The seed chooses the content of the inputs and the order of the queries;
feeds are converted in a fixed order.
Each operation is timed by the runner; its output is checked after the
pass, outside the timed region.
"""

from __future__ import annotations

import csv
import datetime
import decimal
import filecmp
import json
import os
import random
import re
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import gen_feeds
import gen_tables


@dataclass
class Op:
    kind: str
    name: str
    run: Callable[[object], object]  # tracer -> result
    check: Callable[[object], bool]  # result -> output is correct
    input_bytes: int = 0  # or, when 0, the size of ``src`` after the op ran
    src: str | None = None


# ---------------------------------------------------------------------------
# result hashing (shared by the Spark side and the DuckDB oracle)
# ---------------------------------------------------------------------------


def _canon(v):
    t = type(v)
    if t is str or t is int:
        return v
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "\0NaN"
        # 12 significant digits: engines may sum in different orders
        return "0" if v == 0 else format(v, ".12g")
    if isinstance(v, decimal.Decimal):
        return str(v.normalize()) if v else "0"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((_canon(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash over every column of every row: row count,
    sorted column names and the sum of per-row hashes. Python's string
    hash is salted per process, so compare hashes only within one run."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    acc = 0
    n = 0
    for row in rows:
        acc += hash(tuple(_canon(row[i]) for i in order))
        n += 1
    names = ",".join(columns[i] for i in order)
    return f"{n}:{names}:{acc % (1 << 64):016x}"


def _csv_rows(path: str) -> int:
    with open(path, encoding="utf-8-sig", newline="") as f:
        return sum(1 for _ in csv.reader(f, delimiter=";")) - 1


def _size(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# feed_convert
# ---------------------------------------------------------------------------

MiB = 1 << 20
# (dialect, size): one feed above the 16 MiB presplit threshold; the 1C
# feed stays under the converter's 1 MiB head sample (see README.md)
FEEDS = (("offer", 16.5 * MiB), ("product", 1.0 * MiB), ("russian", 0.95 * MiB), ("service", 1.0 * MiB))
# warm-up feeds: every dialect and operation, with enough YML data to
# compile the parse loops, but below the presplit threshold
WARM_FEEDS = (("offer", 4 * MiB), ("product", MiB / 4), ("russian", MiB / 4), ("service", MiB / 4))
# a pass feeds every feed again byte-identically: the reference's
# preview->convert flow reads each feed twice (see
# magicxml_spark/sources/schema_registry.py); the warm-up re-ingests one
WARM_REINGEST = ("product",)
TO_YML = "product"  # CSV outputs converted back
TO_JSON = "russian"


class FeedConvert:
    name = "feed_convert"

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.dir = os.path.join(work, "feeds")
        os.makedirs(self.dir, exist_ok=True)

    def prepare(self) -> None:
        pass

    def _feeds(self, tag: str, sizes) -> list[tuple[str, str, int]]:
        out = []
        for i, (dialect, size) in enumerate(sizes):
            path = os.path.join(self.dir, f"{tag}_{dialect}.xml")
            n = gen_feeds.write_feed(path, dialect, int(size), self.seed * 1000 + zlib.crc32(tag.encode()) % 997 + i)
            out.append((path, dialect, n))
        return out

    def _ops(self, spark, feeds, reingest) -> list[Op]:
        from magicxml_spark.plans import convert

        fresh, later = [], []
        for path, dialect, n in feeds:
            out = path[:-4] + ".csv"

            def run_fresh(tr, src=path, dst=out):
                return convert.xml_to_csv(spark, src, dst)

            fresh.append(Op("xml_to_csv_fresh", dialect, run_fresh,
                            lambda res, n=n: _csv_rows(res) == n, src=path))
            if dialect in reingest:
                again = path[:-4] + ".again.csv"

                def run_again(tr, src=path, dst=again):
                    return convert.xml_to_csv(spark, src, dst)

                later.append(Op("xml_to_csv_reingest", dialect, run_again,
                                lambda res, n=n, ref=out: _csv_rows(res) == n
                                and filecmp.cmp(res, ref, shallow=False), src=path))
            if dialect == TO_YML:
                def run_yml(tr, src=out, dst=path[:-4] + ".back.xml"):
                    return convert.csv_to_xml(spark, src, dst)

                later.append(Op("csv_to_xml", dialect, run_yml,
                                lambda res, n=n: _count_offers(res) == n, src=out))
            if dialect == TO_JSON:
                def run_json(tr, src=out, dst=path[:-4] + ".back.json"):
                    return convert.csv_to_json(spark, src, dst)

                later.append(Op("csv_to_json", dialect, run_json,
                                lambda res, n=n: _json_len(res) == n, src=out))
        return fresh + later

    def warmup_ops(self, spark) -> list[Op]:
        return self._ops(spark, self._feeds("warm", WARM_FEEDS), WARM_REINGEST)

    def pass_ops(self, spark, tag: str) -> list[Op]:
        return self._ops(spark, self._feeds(tag, FEEDS), [d for d, _ in FEEDS])

    def target_layers(self) -> tuple[str, ...]:
        return ("sources.", "operators.flatten", "operators.category_path", "operators.pruning", "sinks.")


def _count_offers(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return len(re.findall(r"<offer[\s>/]", f.read()))


def _json_len(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return len(json.load(f))


# ---------------------------------------------------------------------------
# text_curation
# ---------------------------------------------------------------------------

TEXT_QUERIES = (
    "q_exact_dedup", "q_minhash_lsh_pairs", "q_paragraph_dedup", "q_simhash",
    "q_text_profile", "q_tfidf_top_terms", "q_cosine_topk", "q_lang_id", "q_c4_clean",
    # the one streaming query: keeps the streaming layer measured
    "q_events_stream_windowed",
)
TEXT_DOCS = 6000
# the warm-up pass runs every query on a small corpus of its own
WARM_DOCS, WARM_EVENTS = 1000, 20_000
SLOW_ORACLES = ("q_lang_id", "q_text_profile", "q_minhash_lsh_pairs", "q_cosine_topk")


class TextCuration:
    name = "text_curation"

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.dirs = {"warm": os.path.join(work, "warm_tables"), "pass": os.path.join(work, "tables")}
        self.expected: dict[tuple[str, str], str] = {}
        self.table_bytes: dict[str, int] = {}

    def prepare(self) -> None:
        """Write both corpora and compute each query's DuckDB oracle hash."""
        import duckdb

        from magicxml_spark.queries import ORACLE

        self.table_bytes = gen_tables.corpus_tables(self.seed, self.dirs["pass"], TEXT_DOCS)
        gen_tables.corpus_tables(self.seed + 1, self.dirs["warm"], WARM_DOCS, n_events=WARM_EVENTS)
        threads = len(os.sched_getaffinity(0))
        con = duckdb.connect()
        con.execute(f"SET threads TO {threads}")
        for key, d in self.dirs.items():
            con.execute(f"CREATE SCHEMA {key}")
            for t in self.table_bytes:
                con.execute(f"CREATE VIEW {key}.{t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")

        def oracle(job):
            key, q = job
            cur = con.cursor()
            try:
                cur.execute(f"SET schema = '{key}'")
                rel = cur.sql(ORACLE[q])
                return job, result_hash(list(rel.columns), rel.fetchall())
            finally:
                cur.close()

        # the oracles are largely single-threaded; run them side by side,
        # slowest first
        jobs = sorted(((k, q) for k in self.dirs for q in TEXT_QUERIES),
                      key=lambda j: (j[1] not in SLOW_ORACLES, j[0]))
        try:
            with ThreadPoolExecutor(threads) as ex:
                self.expected = dict(ex.map(oracle, jobs))
        finally:
            con.close()

    def _input_bytes(self, q: str) -> int:
        from magicxml_spark.queries import ORACLE

        return sum(b for t, b in self.table_bytes.items() if re.search(rf"\b{t}\b", ORACLE[q]))

    def _ops(self, spark, key: str, tag: str) -> list[Op]:
        from magicxml_spark.queries import QUERIES

        order = list(TEXT_QUERIES)
        random.Random(f"{self.seed}/{tag}").shuffle(order)
        sf = self.dirs[key]
        ops = []
        for q in order:
            def run(tr, q=q):
                with tr.span("queries", "build", query=q):
                    df = QUERIES[q](spark, sf)
                with tr.span("queries", "exec", query=q):
                    return result_hash(df.columns, df.collect())

            ops.append(Op("query", q, run, lambda res, q=q: res == self.expected[key, q],
                          input_bytes=self._input_bytes(q)))
        return ops

    def warmup_ops(self, spark) -> list[Op]:
        return self._ops(spark, "warm", "warm")

    def pass_ops(self, spark, tag: str) -> list[Op]:
        return self._ops(spark, "pass", tag)

    def target_layers(self) -> tuple[str, ...]:
        return ("operators.",)


def make(name: str, seed: int, work: str):
    if name == "feed_convert":
        return FeedConvert(seed, work)
    if name == "text_curation":
        return TextCuration(seed, work)
    raise ValueError(f"unknown workload {name!r}")
