"""Streaming deduplication: the ingest-time twin of operators/dedup.

Two shapes, matching how a 100 TB pipeline actually dedups a live feed:

* ``dedup_stream_within_watermark`` — exact dedup on arrival via
  ``dropDuplicatesWithinWatermark``: first occurrence of a key passes,
  repeats within the watermark horizon are dropped, and state for keys
  older than the horizon is evicted (bounded state — the property that
  makes exact streaming dedup feasible at all; an unbounded
  ``dropDuplicates`` would grow state forever on an infinite feed).
* ``minhash_pairs_stateful`` — near-dup candidate emission via
  ``applyInPandasWithState`` keyed by (band, signature): the state
  store remembers which documents own each minhash band signature, and
  every arriving document emits candidate pairs against exactly the
  remembered bucket members — the incremental version of the batch
  band self-join (operators/dedup.lsh_candidate_pairs), O(new x bucket)
  per micro-batch instead of O(corpus x corpus) per re-run.

Determinism for the correctness gate: both queries are driven with
availableNow + memory sink, and both project ONLY order-independent
outputs (the key set / the pair multiset), so the batch SQL over the
same data is a valid oracle even though intra-batch processing order
is partition-dependent.

The documents stream derives its event time from doc_id (ingest order
in the testdata); a production feed carries a real ingest timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magicxml_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    minhash_band_signature_array,
    word_shingles,
)
from magicxml_spark.streaming.events import (
    STATE_PARTITIONS,
    _drain_to_memory,
    read_events_stream,
)

DOCUMENTS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet with a synthetic ingest
    timestamp (doc_id seconds since epoch): the testdata has no ingest
    time, and stateful operators need an event-time column to bound
    their state. Monotonic in doc_id, so watermarks behave like a real
    ordered feed."""
    from magicxml_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    # +1: event time must sit strictly above the initial watermark (0 =
    # epoch) — stateful operators with event-time timeouts filter rows
    # whose timestamp is <= the current watermark as late, which would
    # silently drop doc_id 0 on the first batch.
    return stream.withColumn("ingest_ts", F.timestamp_seconds(F.col("doc_id") + 1))


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """First-occurrence-wins streaming dedup on ``keys``. The output
    carries only the key columns: the surviving row per key is whichever
    arrived first in processing order, so projecting anything else would
    be nondeterministic under re-partitioning — the key set itself is
    exact and stable.

    State = one entry per distinct key seen within the watermark
    horizon, evicted as event time advances — at 100 TB/day this is the
    difference between a dedup that runs forever and one that OOMs.

    Eviction nuance (pinned by test_stream_dedup_state_evicts_past_
    watermark): Spark checks arrivals against PRE-eviction state and
    evicts at batch end, so a key re-appearing exactly one batch after
    its horizon passed may still be suppressed — the engine guarantees
    dedup WITHIN the delay and bounded state, not exact re-admission
    timing beyond it. The 24-hour watermark is 'the longest gap after
    which a repeat should count as new', not a precision knob."""
    return (
        events.withWatermark(ts_col, "24 hours")
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def run_stream_dedup_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive exact streaming dedup of the events feed on
    (user_id, event_type) to completion: append mode emits each
    first-seen key immediately (dedup operators do not gate output on
    the watermark)."""
    deduped = dedup_stream_within_watermark(
        read_events_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    return _drain_to_memory(spark, deduped, "events_dedup", "append", STATE_PARTITIONS)


# Event-time horizon of the stateful near-dup streams: the longest gap
# across which a near-dup must still be flagged.
NEAR_DUP_WATERMARK = "30 days"


def minhash_pairs_stateful(
    docs: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Streaming LSH candidate emission (applyInPandasWithState).

    The signature values are identical to the batch path's
    (minhash_band_signature_array element b == the batch band-b
    minimum, test-pinned), so stream and batch bucket identically. Grouping by (band, signature) puts each bucket's
    membership list in the state store; an arriving doc emits one
    (id_a, id_b) row per remembered member, then joins the membership.
    Across micro-batches this is incremental dedup: only new-vs-seen
    work, never a corpus re-scan. Null signatures (blank docs — no
    shingles) are filtered exactly like the batch equi-join drops them.

    Output is the candidate-pair MULTISET (a pair sharing several band
    signatures appears once per shared band) — order-independent, so
    the batch band-join without DISTINCT is its oracle.

    ``max_bucket_size`` is the boilerplate mega-bucket guard
    (emit-and-freeze): once a bucket's remembered membership reaches
    the cap, later arrivals still emit pairs against the first
    ``max_bucket_size`` members — so every doc in a giant
    near-identical cluster is still FLAGGED against the cluster's
    representatives — but are not added to state. Per-arrival work and
    state are then O(cap) instead of O(bucket), which is the difference
    between a hot boilerplate signature costing quadratic pairs and a
    bounded pair budget. The cap defaults ON
    (``DEFAULT_MAX_BUCKET_SIZE``); ``None`` is the explicit opt-out
    yielding the exact batch-join multiset — oracle/test scale only,
    because an uncapped hot bucket's state and per-arrival emission
    are unbounded.

    State is bounded in BOTH dimensions: ``max_bucket_size`` caps each
    bucket's membership, and an EventTimeTimeout tied to the watermark
    caps the bucket COUNT — a bucket whose last arrival has fallen
    behind the advancing watermark is dropped at the end of the batch
    that advances past it. The semantic contract: near-dup pairs are
    only guaranteed for documents whose event times are within
    ``NEAR_DUP_WATERMARK`` of each other; a doc matching a bucket
    evicted longer ago starts a fresh bucket (no pair emitted). That is
    the standard streaming trade-off.

    Shingles are word 3-grams and signatures 4 bands, as in the batch
    ``lsh_candidate_pairs`` defaults.
    """
    # ONE md5 per shingle via the fused band array (the per-band
    # spelling re-digests every shingle once per band — no CSE);
    # posexplode unpivots (band, signature) rows, same values
    sh = word_shingles(F.col("text"), 3)
    sig_rows = docs.select(
        F.col("doc_id").alias("id"),
        F.col("ingest_ts").alias("_ts"),
        F.posexplode(minhash_band_signature_array(sh)).alias(
            "band", "signature"
        ),
    )
    sig_rows = sig_rows.filter(F.col("signature").isNotNull()).withWatermark(
        "_ts", NEAR_DUP_WATERMARK
    )
    return _stateful_bucket_pairs(sig_rows, ["band", "signature"], max_bucket_size)


def _stateful_bucket_pairs(
    rows: DataFrame, bucket_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """The shared stateful emitter behind every payload-free streaming
    bucket-pair operator (minhash bands, winnow fingerprints): ``rows``
    is the watermarked long form (id, _ts, *bucket_cols); each bucket's
    state remembers its membership (capped, emit-and-freeze above the
    cap) plus its newest event time for EventTimeTimeout eviction. One
    definition so the cap/eviction contract cannot drift between
    operators — the batch-side analog of operators/dedup's
    ``_capped_bucket_pairs`` sharing."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def emit_pairs(key, pdfs, state):
        if state.hasTimedOut:
            # Watermark passed this bucket's last activity: drop it so
            # bucket-count state stays bounded on a continuous feed.
            state.remove()
            yield pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")}
            )
            return
        if state.exists:
            got = state.get
            stored = list(got[0])
            newest_ms = int(got[1])
        else:
            stored, newest_ms = [], 0
        out_a: list[int] = []
        out_b: list[int] = []
        for pdf in pdfs:
            if len(pdf):
                batch_max = pdf["_ts"].max()
                newest_ms = max(newest_ms, int(batch_max.timestamp() * 1000))
            for raw in pdf["id"]:
                did = int(raw)
                for other in stored:
                    lo, hi = (did, other) if did < other else (other, did)
                    out_a.append(lo)
                    out_b.append(hi)
                if max_bucket_size is None or len(stored) < max_bucket_size:
                    stored.append(did)
        state.update((stored, newest_ms))
        # Expire once the watermark advances past this bucket's newest
        # event EVER SEEN (persisted in state, not recomputed from the
        # current batch — a late-but-admissible row must never rewind
        # the timeout below an earlier batch's max, or the bucket dies
        # while in-horizon partners can still arrive). Spark requires
        # the timestamp to sit strictly beyond the current watermark.
        state.setTimeoutTimestamp(max(newest_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return rows.groupBy(*bucket_cols).applyInPandasWithState(
        emit_pairs,
        outputStructType="id_a bigint, id_b bigint",
        stateStructType="ids array<bigint>, newest_ms bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_minhash_to_memory(
    spark: SparkSession,
    sf_dir: str,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    pairs = minhash_pairs_stateful(
        read_documents_stream(spark, sf_dir), max_bucket_size=max_bucket_size
    )
    return _drain_to_memory(spark, pairs, "stream_minhash", "append", STATE_PARTITIONS)


def simhash_wide_pairs_stateful(
    docs: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Streaming wide-SimHash near-dup emission — the stateful twin of
    ``operators.dedup.simhash_wide_near_dup_pairs``, shaped exactly
    like ``minhash_pairs_stateful``: group by (slice_idx, slice_val),
    bucket membership in the state store, an arriving doc emits one
    (id_a, id_b, hamming) row per remembered member within hamming 7,
    then joins the membership.

    The 64-bit sketch travels PACKED into one signed bigint (word g in
    bits [16g, 16g+16)) — state stays flat arrays, and the four
    byte-slices derive from the packed value with shifts, so stream and
    batch bucket identically. XOR/popcount on the packed form equals
    the per-word sum (bit positions don't interact). Output is the
    per-shared-slice MULTISET (a pair within hamming range appearing in
    k shared slice buckets emits k times) — the batch slice-join
    WITHOUT DISTINCT is the oracle.

    ``max_bucket_size`` is the same emit-and-freeze cap and the
    EventTimeTimeout eviction follows the same monotonic newest-event
    contract as the minhash twin (see that docstring for both).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from magicxml_spark.operators.dedup import simhash_wide

    sk_words = docs.select(
        F.col("doc_id").alias("id"),
        F.col("ingest_ts").alias("_ts"),
        simhash_wide(F.col("text")).alias("_sw"),
    )
    packed = sk_words.select(
        "id",
        "_ts",
        (
            F.element_at("_sw", 1).cast("bigint")
            .bitwiseOR(F.shiftleft(F.element_at("_sw", 2).cast("bigint"), 16))
            .bitwiseOR(F.shiftleft(F.element_at("_sw", 3).cast("bigint"), 32))
            .bitwiseOR(F.shiftleft(F.element_at("_sw", 4).cast("bigint"), 48))
        ).alias("sk"),
    )
    slices = packed.select(
        "id",
        "_ts",
        "sk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("slice_idx"),
                        F.shiftright(F.col("sk"), 8 * s)
                        .bitwiseAND(F.lit(255))
                        .alias("slice_val"),
                    )
                    for s in range(8)
                ]
            )
        ).alias("sl"),
    ).select(
        "id", "_ts", "sk",
        F.col("sl.slice_idx").alias("slice_idx"),
        F.col("sl.slice_val").alias("slice_val"),
    ).withWatermark("_ts", NEAR_DUP_WATERMARK)

    mask64 = (1 << 64) - 1

    def emit_pairs(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "hamming": pd.Series(dtype="int32"),
                }
            )
            return
        if state.exists:
            got = state.get
            ids, sks, newest_ms = list(got[0]), list(got[1]), int(got[2])
        else:
            ids, sks, newest_ms = [], [], 0
        out_a: list[int] = []
        out_b: list[int] = []
        out_h: list[int] = []
        for pdf in pdfs:
            if len(pdf):
                batch_max = pdf["_ts"].max()
                newest_ms = max(newest_ms, int(batch_max.timestamp() * 1000))
            for raw_id, raw_sk in zip(pdf["id"], pdf["sk"]):
                did, dsk = int(raw_id), int(raw_sk)
                for oid, osk in zip(ids, sks):
                    h = bin((dsk ^ osk) & mask64).count("1")
                    if h <= 7:
                        lo, hi = (did, oid) if did < oid else (oid, did)
                        out_a.append(lo)
                        out_b.append(hi)
                        out_h.append(h)
                if max_bucket_size is None or len(ids) < max_bucket_size:
                    ids.append(did)
                    sks.append(dsk)
        state.update((ids, sks, newest_ms))
        state.setTimeoutTimestamp(max(newest_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "hamming": out_h})

    return slices.groupBy("slice_idx", "slice_val").applyInPandasWithState(
        emit_pairs,
        outputStructType="id_a bigint, id_b bigint, hamming int",
        stateStructType="ids array<bigint>, sks array<bigint>, newest_ms bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_simhash_wide_to_memory(
    spark: SparkSession,
    sf_dir: str,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    pairs = simhash_wide_pairs_stateful(
        read_documents_stream(spark, sf_dir), max_bucket_size=max_bucket_size
    )
    return _drain_to_memory(
        spark, pairs, "stream_simhash_wide", "append", STATE_PARTITIONS
    )


# --- Streaming winnowing: local-overlap candidate emission ------------------


def winnow_pairs_stateful(
    docs: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Streaming winnow-fingerprint candidate pairs — the ingest-time
    twin of operators/dedup.winnow_pairs, through the SAME stateful
    bucket emitter as the minhash stream (state per fingerprint:
    capped membership + EventTimeTimeout eviction; see
    ``_stateful_bucket_pairs``).

    Output is the candidate-pair MULTISET (a pair sharing several
    fingerprints appears once per shared fingerprint) — the batch
    fingerprint self-join WITHOUT the min_shared aggregation is its
    exact oracle; a production consumer aggregates multiplicity
    downstream exactly like the batch operator's groupBy does."""
    from magicxml_spark.operators.dedup import winnow_fingerprint_sets

    sets_ = winnow_fingerprint_sets(
        docs, "doc_id", "text", extra_cols=("ingest_ts",)
    ).filter(F.size("fps") > 0)
    rows = sets_.select(
        "id", F.col("ingest_ts").alias("_ts"), F.explode("fps").alias("fp")
    ).withWatermark("_ts", NEAR_DUP_WATERMARK)
    return _stateful_bucket_pairs(rows, ["fp"], max_bucket_size)


def run_stream_winnow_to_memory(
    spark: SparkSession,
    sf_dir: str,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    pairs = winnow_pairs_stateful(
        read_documents_stream(spark, sf_dir), max_bucket_size=max_bucket_size
    )
    return _drain_to_memory(spark, pairs, "stream_winnow", "append", STATE_PARTITIONS)


def run_stream_paragraph_dedup_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of curation.paragraph_dedup's dedup core: the
    document feed explodes into paragraph units (the 3-token line
    synthesis documents use corpus-wide — q_line_dedup's convention),
    and ``dropDuplicatesWithinWatermark`` keeps the FIRST-seen
    occurrence of every distinct paragraph key. Output rows carry only
    ``para_key`` (md5 of the unit): the surviving (doc, pos) per key
    is processing-order-dependent under repartitioning, the KEY SET is
    exact — the same determinism contract as
    dedup_stream_within_watermark. State = one entry per distinct
    paragraph inside the watermark horizon, which is what makes
    corpus-scale streaming paragraph dedup bounded (Dolma's dedup as
    a stream instead of a batch)."""
    docs = read_documents_stream(spark, sf_dir)
    w = F.filter(F.split(F.lower("text"), "\\s+"), lambda t: t != F.lit(""))
    units = (
        docs.select("ingest_ts", w.alias("_w"))
        .filter(F.size("_w") > 0)
        .select(
            "ingest_ts",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.ceil(F.size("_w") / F.lit(3.0)).cast("int")
                    ),
                    lambda i: F.array_join(
                        F.slice("_w", (i - 1) * 3 + 1, 3), " "
                    ),
                )
            ).alias("para"),
        )
        .select("ingest_ts", F.md5("para").alias("para_key"))
    )
    kept = dedup_stream_within_watermark(units, ["para_key"], "ingest_ts")
    return _drain_to_memory(spark, kept, "para_dedup", "append", 2)
