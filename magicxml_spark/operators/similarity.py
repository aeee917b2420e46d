"""Similarity search over an embedding column (array<float>).

* ``cosine_topk_bruteforce`` — exact top-k by cosine: self cross-join +
  window. Correctness baseline; O(n^2) pairs, fine for dimension-table
  sized corpora and as the verify step for the approximate path.
* ``cosine_topk_lsh`` — the scale path: random-hyperplane LSH buckets
  (sign sketch of dot products with fixed pseudo-random planes), then
  brute force only within buckets. At 100 TB the bucket join replaces
  the quadratic cross-join with one shuffle on the bucket key.

All arithmetic is elementwise zip_with/aggregate over array<double> —
JVM-side, no Python. Plane coefficients are derived deterministically
from md5 of (plane, dim) so results are reproducible with no RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v, n) with the L2 norm materialized once per row, so the
    quadratic pair stage computes dot(a,b)/(a.n*b.n) — one array pass
    per pair instead of three. (Scaling the array itself would tempt
    Catalyst's projection collapse into re-deriving the norm inside the
    per-element lambda; a scalar column can't be inlined that way.)"""
    return df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("n", norm(F.col("v")))


def _collect_index(base: DataFrame, max_rows: int):
    """Collect (id, vec) to the driver via Arrow (toPandas) — an order
    of magnitude faster than the py4j row path for array columns —
    and return (ids, unit-normalized float64 matrix).

    ``max_rows`` is the driver-side safety contract (same shape as
    ``interval_lookup_join``'s max_compiled_intervals): the collect is
    limited to max_rows+1 and raises if the index side exceeds it, so a
    100M-vector corpus can never be pulled onto the driver by accident —
    the caller is pointed at the blocked / IVF variants instead."""
    import numpy as np

    pdf = base.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"index side exceeds max_index_rows={max_rows}: the "
            "broadcast-index bruteforce path collects the whole index "
            "to the driver and is only for bounded catalogs — use "
            "cosine_topk_blocked / embedding_near_dup_blocked (exact, "
            "distributed) or cosine_topk instead"
        )
    ids = pdf["id"].to_numpy()
    mat = np.array(list(pdf["v"]), dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_topk_bruteforce(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    max_index_rows: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per vector: (vec_id, neighbor_id, rank, sim).

    Execution: the index side (all ids + a row-normalized float64
    matrix) is broadcast to every task; the query side streams through
    ``mapInPandas`` in Arrow batches and does one BLAS GEMM per batch,
    keeping only the local top-k — so no quadratic pair table is ever
    materialized and no shuffle happens at all. At cluster scale the
    broadcast index is the bounded "catalog" side; for corpus-vs-corpus
    ANN where neither side fits an executor, use ``cosine_topk_lsh``.

    Deterministic tie-break: (sim DESC, neighbor_id ASC). Ranking uses
    full float64 precision; sim is rounded only in the output.

    ``max_index_rows`` (default ANN_EXACT_MAX_ROWS) bounds the driver
    collect — past it this raises toward ``cosine_topk_blocked``, the
    exact distributed path with no driver materialization.
    """
    import numpy as np
    import pandas as pd

    cap = ANN_EXACT_MAX_ROWS if max_index_rows is None else max_index_rows
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    idx_ids, idx_mat = _collect_index(base, max_rows=cap)  # Arrow path, not row collect
    bc = df.sparkSession.sparkContext.broadcast((idx_ids, idx_mat))

    id_dtype = dict(base.dtypes)["id"]
    out_schema = (
        f"vec_id {id_dtype}, neighbor_id {id_dtype}, rank int, sim double"
    )

    def topk_batches(batches):
        ids, mat = bc.value
        for pdf in batches:
            q = np.array(list(pdf["v"]), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ mat.T  # one GEMM per Arrow batch
            out_vec, out_nbr, out_rank, out_sim = [], [], [], []
            for i, qid in enumerate(pdf["id"]):
                row = sims[i]
                # (sim DESC, neighbor_id ASC), self excluded
                order = np.lexsort((ids, -row))
                order = order[ids[order] != qid][:k]
                out_vec.extend([qid] * len(order))
                out_nbr.extend(ids[order])
                out_rank.extend(range(1, len(order) + 1))
                out_sim.extend(np.round(row[order], 4))
            yield pd.DataFrame(
                {
                    "vec_id": out_vec,
                    "neighbor_id": out_nbr,
                    "rank": np.array(out_rank, dtype="int32"),
                    "sim": out_sim,
                }
            )

    return base.mapInPandas(topk_batches, schema=out_schema)


def _hyperplane(plane: int, dim: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random unit-free plane: coefficient j is
    (md5-derived int in [0, 2^31)) mapped to [-1, 1). No RNG state —
    same plane on every executor, every run, every engine. ``table``
    salts the derivation so multi-table LSH gets independent planes."""
    import hashlib

    coeffs = []
    for j in range(dim):
        h = hashlib.md5(f"t{table}|plane{plane}|{j}".encode()).hexdigest()
        coeffs.append((int(h[:8], 16) / float(2**31)) - 1.0)
    return coeffs


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8, table: int = 0) -> Column:
    """Sign sketch: bit b = 1 iff dot(vec, plane_b) > 0."""
    out = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(c) for c in _hyperplane(p, dim, table)])
        out = out + F.when(dot(vec, plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return out.cast("int")


def cosine_topk_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within LSH buckets,
    OR-amplified across ``n_tables`` independent hash tables.

    Single-table sign-sketch LSH has poor recall on near-orthogonal
    corpora (each extra plane halves the chance two true neighbors
    collide), so this uses the standard multi-table construction: a
    pair is a candidate if it shares a bucket in ANY table. Candidates
    are deduplicated before ranking so a pair found by several tables
    scores once.

    Scale shape: one projection computes all table buckets, an explode
    emits n_tables rows per vector, the self-join is an equi-join on
    (table, bucket) — one shuffle, quadratic only within buckets, AQE
    splits skewed mega-buckets. Candidate volume (and recall) rises
    linearly with n_tables; n_planes trades bucket size vs collision
    probability.
    """
    base = _with_norm(df, id_col, vec_col).withColumn(
        "tb",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        lsh_bucket(F.col("v"), dim, n_planes, t).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ),
    ).select("id", "v", "n", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
    a = base.alias("la")
    b = base.alias("lb")
    sim = dot(F.col("la.v"), F.col("lb.v")) / (F.col("la.n") * F.col("lb.n"))
    pairs = (
        a.join(
            b,
            (F.col("la.t") == F.col("lb.t"))
            & (F.col("la.bucket") == F.col("lb.bucket"))
            & (F.col("la.id") != F.col("lb.id")),
        )
        .select(
            F.col("la.id").alias("vec_id"),
            F.col("lb.id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        # a pair colliding in several tables must rank once, not L times
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_index_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= t).

    Same broadcast-index GEMM shape as ``cosine_topk_bruteforce``: one
    matrix multiply per Arrow batch, emitting only above-threshold
    pairs — the quadratic pair table never exists as rows. For
    corpus-vs-corpus scale, pre-bucket with ``lsh_bucket`` and run this
    per bucket, or use ``embedding_near_dup_blocked`` (exact,
    distributed, no driver collect). ``max_index_rows`` (default
    ANN_EXACT_MAX_ROWS) bounds the driver collect and raises past it.
    """
    import numpy as np
    import pandas as pd

    cap = ANN_EXACT_MAX_ROWS if max_index_rows is None else max_index_rows
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    idx_ids, idx_mat = _collect_index(base, max_rows=cap)
    bc = df.sparkSession.sparkContext.broadcast((idx_ids, idx_mat))

    id_dtype = dict(base.dtypes)["id"]
    out_schema = f"id_a {id_dtype}, id_b {id_dtype}, sim double"

    def near_dup_batches(batches):
        ids, mat = bc.value
        for pdf in batches:
            q = np.array(list(pdf["v"]), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ mat.T
            qids = pdf["id"].to_numpy()
            # only emit (a < b) so each pair appears exactly once
            qi, ni = np.nonzero((sims >= threshold) & (qids[:, None] < ids[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": qids[qi],
                    "id_b": ids[ni],
                    "sim": np.round(sims[qi, ni], 4),
                }
            )

    return base.mapInPandas(near_dup_batches, schema=out_schema)


def _block_grid(df: DataFrame, id_col: str, vec_col: str, block_rows: int):
    """Split a (id, vec) corpus into a Q×S block grid for distributed
    exact similarity: every query block meets every index block exactly
    once, and each cogroup group holds ≤ ~block_rows rows per side.

    Returns (queries, index, n_blocks): both sides carry (qb, ib) keys;
    the query side is replicated S times (one row per index block), the
    index side Q times. Communication is the textbook block-matrix
    O(n·S + n·Q) — no driver collect, no broadcast, memory bounded by
    block_rows regardless of corpus size. Block membership is
    pmod(xxhash64(id)) so the grid needs no global sort.
    """
    base = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    n = base.count()  # parquet metadata count — cheap at any scale
    n_blocks = max(1, -(-n // block_rows))
    qb = F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
    replicate = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    queries = base.select("id", "v", qb.alias("qb"), replicate.alias("ib"))
    # The index side gets DISTINCT column names (fresh exprIds via the
    # aliases): both sides derive from the same parent plan, and
    # sharing attribute ids across a self-cogroup breaks Catalyst's
    # relation dedup under count()-style empty projections (the right
    # side reached the Python worker without its data columns).
    index = base.select(
        F.col("id").alias("iid"),
        F.col("v").alias("iv"),
        replicate.alias("qb"),
        qb.alias("ib"),
    )
    return queries, index, n_blocks


def cosine_topk_blocked(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5, block_rows: int = 2048
) -> DataFrame:
    """Exact top-k neighbors per vector with NO driver-side collect —
    the 100 TB-safe default behind ``q_cosine_topk``.

    Execution: block-matrix GEMM. Both sides of the self-similarity are
    hashed into ⌈n/block_rows⌉ blocks; ``cogroup().applyInPandas`` pairs
    every (query block, index block) cell, one Arrow-fed float64 GEMM
    per cell, keeping only that cell's per-query top-k. A window then
    re-ranks the ≤ k·S per-cell survivors to the global exact top-k.
    Exactness: the global top-k under the total order (sim DESC, id ASC)
    is a subset of the union of per-cell top-k under the same order.

    vs ``cosine_topk_bruteforce`` (broadcast-index variant): that one
    collects the full index through the driver, which caps it at
    catalog-sized index sides; this one shuffles ~n·√cells rows instead
    and is bounded by block_rows per task at any corpus size.

    Deterministic tie-break: (sim DESC, neighbor_id ASC); ranking at
    full float64, sim rounded only in the output.
    """
    import numpy as np
    import pandas as pd

    queries, index, _ = _block_grid(df, id_col, vec_col, block_rows)
    id_dtype = dict(queries.dtypes)["id"]

    def cell_topk(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "sim": []})
        if len(qpdf) == 0 or len(ipdf) == 0:
            return empty
        q = np.array(list(qpdf["v"]), dtype=np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        m = np.array(list(ipdf["iv"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = q @ m.T  # one GEMM per grid cell
        ids = ipdf["iid"].to_numpy()
        out_vec, out_nbr, out_sim = [], [], []
        for i, qid in enumerate(qpdf["id"]):
            row = sims[i]
            order = np.lexsort((ids, -row))  # (sim DESC, neighbor_id ASC)
            order = order[ids[order] != qid][:k]
            out_vec.extend([qid] * len(order))
            out_nbr.extend(ids[order])
            out_sim.extend(row[order])  # full precision; round after re-rank
        return pd.DataFrame({"vec_id": out_vec, "neighbor_id": out_nbr, "sim": out_sim})

    cells = (
        queries.groupBy("qb", "ib")
        .cogroup(index.groupBy("qb", "ib"))
        .applyInPandas(cell_topk, schema=f"vec_id {id_dtype}, neighbor_id {id_dtype}, sim double")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        cells.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


def embedding_near_dup_blocked(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    block_rows: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= t)
    with NO driver-side collect — the 100 TB-safe default behind
    ``q_embedding_near_dup``.

    Same block-grid cogroup GEMM as ``cosine_topk_blocked``; each grid
    cell emits only its above-threshold (a < b) pairs, so the result is
    exact with no re-rank step and the quadratic pair table never
    exists as rows anywhere.
    """
    import numpy as np
    import pandas as pd

    queries, index, _ = _block_grid(df, id_col, vec_col, block_rows)
    id_dtype = dict(queries.dtypes)["id"]

    def cell_pairs(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        if len(qpdf) == 0 or len(ipdf) == 0:
            return empty
        q = np.array(list(qpdf["v"]), dtype=np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        m = np.array(list(ipdf["iv"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = q @ m.T
        qids = qpdf["id"].to_numpy()
        ids = ipdf["iid"].to_numpy()
        qi, ni = np.nonzero((sims >= threshold) & (qids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"id_a": qids[qi], "id_b": ids[ni], "sim": np.round(sims[qi, ni], 4)}
        )

    return (
        queries.groupBy("qb", "ib")
        .cogroup(index.groupBy("qb", "ib"))
        .applyInPandas(cell_pairs, schema=f"id_a {id_dtype}, id_b {id_dtype}, sim double")
    )


def embedding_cluster_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_rows: int = 2048,
) -> DataFrame:
    """SemDeDup-class semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): KMeans cells bound the quadratic near-duplicate
    scan, then within each cell an id is DROPPED when a smaller-id
    member of the same cell has cosine >= ``threshold`` (min-id
    representative wins — deterministic, no RNG beyond the seeded fit).

    Returns one row per input id: (id, cell, keep) with keep ∈ {0, 1}.

    Scale shape: the full-corpus pair scan is O(n²); clustering first
    makes it Σ|cell|² — with balanced cells a 1/n_cells fraction — and
    each cell's scan runs as a block-grid GEMM (cogroup applyInPandas)
    with per-task memory bounded by ``block_rows``. Block counts adapt
    PER CELL from a tiny broadcast size table, so a skewed cell gets
    more grid blocks instead of one oversized task. Approximation
    contract: near-duplicates split across a cell boundary are missed
    (that is SemDeDup's accepted trade); EXACT duplicates are never
    missed — identical vectors always land in the same cell (cell
    assignment is a pure function of the vector), which is the
    invariant ``q_embedding_cluster_dedup`` oracle-gates.

    The cell count is ~sqrt(n), derived from one count
    (``auto_n_cells`` — the same rule as the IVF dispatch), so the
    Σ|cell|² bound keeps pace with corpus growth instead of a fixed
    16x reduction. (A small-n clamp to 16 cells was measured and
    REJECTED in round 8: a direct A/B at the sf0.1 corpus — 2000
    vectors, auto=44 — ran 2.51 s with auto vs 3.76 s clamped,
    min-of-3 warm; the r7 sf0.1 count-mode move that suggested the
    clamp was box noise, and more cells are mildly FASTER even at 2k
    rows because the per-cell grid work shrinks faster than the tiny
    fit grows. BASELINE.md round-8 records the runs.)

    The assigned (scan + KMeans transform) subtree feeds the size
    table, both cogroup sides, and the final label join — Catalyst
    recomputes it per consumer. That is deliberate: the transform is a
    cheap JVM projection against broadcast centroids, and persisting an
    embedding corpus to skip three metadata-cheap rescans is a worse
    trade at scale; callers that already hold the corpus cached pass it
    in cached and the rescans hit storage.
    """
    import numpy as np
    import pandas as pd

    base = _with_norm(df, id_col, vec_col)
    n_rows = base.count()
    model, ml = _fit_centroids(
        base,
        auto_n_cells(n_rows),
        IVF_FIT_SAMPLE_ROWS,
        n_rows=n_rows,
        # this operator's invariant is centroid-independent, so it
        # opts into the parallel fit (see _fit_centroids)
        fit_partitions=base.sparkSession.sparkContext.defaultParallelism,
    )
    assigned = model.transform(ml).select("id", "v", "cell")

    sizes = assigned.groupBy("cell").agg(F.count("*").alias("_cn"))
    sized = assigned.join(F.broadcast(sizes), "cell")
    nb = F.greatest(F.lit(1), F.ceil(F.col("_cn") / F.lit(block_rows))).cast("int")
    qb = F.pmod(F.xxhash64("id"), nb).cast("int")
    replicate = F.explode(F.sequence(F.lit(0), nb - F.lit(1)))
    queries = sized.select(
        "cell", "id", "v", qb.alias("qb"), replicate.alias("ib")
    )
    # distinct names/exprIds on the index side — same self-cogroup
    # Catalyst caveat as _block_grid
    index = sized.select(
        F.col("cell").alias("icell"),
        F.col("id").alias("iid"),
        F.col("v").alias("iv"),
        replicate.alias("iqb"),
        qb.alias("iib"),
    )
    id_dtype = dict(assigned.dtypes)["id"]

    def cell_dominated(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"did": []})
        if len(qpdf) == 0 or len(ipdf) == 0:
            return empty
        q = np.array(list(qpdf["v"]), dtype=np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        m = np.array(list(ipdf["iv"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = q @ m.T
        qids = qpdf["id"].to_numpy()
        ids = ipdf["iid"].to_numpy()
        dominated = ((sims >= threshold) & (qids[:, None] < ids[None, :])).any(axis=0)
        return pd.DataFrame({"did": ids[dominated]})

    dropped = (
        queries.groupBy("cell", "qb", "ib")
        .cogroup(index.groupBy("icell", "iqb", "iib"))
        .applyInPandas(cell_dominated, schema=f"did {id_dtype}")
        .distinct()
    )
    return (
        assigned.join(dropped, assigned["id"] == dropped["did"], "left")
        .select(
            "id",
            "cell",
            F.when(F.col("did").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (4x memory off the ANN working set)
# ---------------------------------------------------------------------------


def quantize_int8(vec: Column) -> tuple[Column, Column, Column]:
    """Per-vector affine int8 quantization: returns ``(offset, scale,
    codes)`` where ``codes[i] = round((v[i] - offset) / scale)`` in
    0..255, ``offset = min(v)``, ``scale = (max - min) / 255``.

    Everything is a Column expression (JVM-side, one projection) and
    deterministic: round-half-up on a nonnegative float64 quotient is
    identical in Spark (BigDecimal HALF_UP) and DuckDB (round-half-away)
    because the quotient is computed by the same IEEE ops on both
    engines. Constant vectors (scale 0) quantize to all-zero codes.

    At 100 TB this is the memory knob for the ANN working set: an
    int8-coded corpus is 4x smaller than float32 on the shuffle wire
    and in the cogroup GEMM cells; ``dequantize_int8`` restores
    float64 (max abs error scale/2 ~= range/510 per dimension).
    """
    v = _as_double(vec)
    offset = F.array_min(v)
    scale = (F.array_max(v) - offset) / F.lit(255.0)
    codes = (
        F.when(scale == 0, F.transform(v, lambda x: F.lit(0)))
        .otherwise(
            F.transform(v, lambda x: F.round((x - offset) / scale, 0).cast("int"))
        )
        .cast("array<int>")
    )
    return offset, scale, codes


def dequantize_int8(codes: Column, offset: Column, scale: Column) -> Column:
    """Inverse of ``quantize_int8``: v'[i] = offset + codes[i] * scale
    (array<double>). Used inline in the quantized ANN path so the GEMM
    kernels stay float64 while storage/shuffle stay int8."""
    return F.transform(codes, lambda q: offset + q.cast("double") * scale)


def topk_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """recall@k of an approximate neighbor list against the exact one:
    one row (n_queries, n_exact_pairs, n_hits, recall). Both inputs are
    (vec_id, neighbor_id, ...) pair tables; recall = |approx ∩ exact| /
    |exact|. One left-semi-marked join + one aggregate — no collect.

    This is the hard gate for the approximate ANN paths: with the
    deterministic LSH planes (md5-derived) and a seeded KMeans the
    recall at a fixed SF is a reproducible scalar, pinned in the DuckDB
    oracle and floored in pytest.
    """
    e = exact.select("vec_id", "neighbor_id")
    a = approx.select("vec_id", "neighbor_id").withColumn("_hit", F.lit(1))
    joined = e.join(a, ["vec_id", "neighbor_id"], "left_outer")
    return joined.agg(
        F.countDistinct("vec_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.count("_hit").alias("n_hits"),
        F.round(F.count("_hit") / F.count(F.lit(1)), 4).alias("recall"),
    )


# Vectors a centroid fit trains on at most: centroid quality converges
# long before corpus size, so an O(corpus) iterative fit is waste.
IVF_FIT_SAMPLE_ROWS = 200_000


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    fit_sample_rows: int = IVF_FIT_SAMPLE_ROWS,
) -> DataFrame:
    """IVF variant of approximate top-k: KMeans partitions the corpus
    into cells; each query searches only its n_probe nearest cells.

    Scale shape: centroids are a tiny broadcast table; cell assignment
    is one projection; the search joins query-side (id, probe_cell) to
    index-side (id, cell) — an equi-join on the cell id, quadratic only
    within cells. Recall rises with n_probe (n_probe = n_cells is exact
    brute force).

    The centroid fit trains on at most ``fit_sample_rows`` vectors
    (hash-deterministic sample) — centroid quality converges long
    before corpus size, so an O(corpus) iterative fit would be pure
    waste at 100 TB. Below the cap the full table trains, keeping the
    recorded small-SF recall values reproducible.
    """
    base = _with_norm(df, id_col, vec_col)
    model, ml = _fit_centroids(base, n_cells, fit_sample_rows)
    assigned = model.transform(ml).select("id", "v", "n", "cell")

    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    queries = with_probe_cells(
        assigned.select("id", "v", "n"), centroids, n_probe
    ).select(
        F.col("id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("n").alias("q_n"),
        "cell",
    )

    sim = dot(F.col("q_v"), F.col("v")) / (F.col("q_n") * F.col("n"))
    pairs = (
        queries.join(assigned, "cell")
        .filter(F.col("q_id") != F.col("id"))
        .select(F.col("q_id").alias("vec_id"), F.col("id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


# ---------------------------------------------------------------------------
# Cost-based dispatch: one entry point that picks the right ANN plan
# ---------------------------------------------------------------------------

# Exact-vs-approximate crossover. Below this corpus size the blocked
# exact GEMM wins outright: the BASELINE.md sweep measured exact at
# 7.2 s vs IVF 9.2-33 s at 2,000 vectors (the KMeans fit dominates),
# and exact work grows ~n^2 dot products, which a block grid spreads
# over ~ (n/block_rows)^2 cells — ~2.4k cells at 100k rows, still well
# under a 1000-executor cluster's task budget. Past it, IVF's
# n_probe/n_cells fraction of the quadratic work takes over while the
# sampled centroid fit stays O(fit_sample_rows).
ANN_EXACT_MAX_ROWS = 100_000


def auto_n_cells(n_rows: int) -> int:
    """Shared cell-count rule for the IVF dispatch and
    ``embedding_cluster_dedup``: ~sqrt(n) cells, so cells hold ~sqrt(n)
    vectors each and the per-cell quadratic work balances against probe
    /grid fan-out. Floored at 16 (tiny corpora still get real cells),
    capped at 32768 (the broadcast centroid table stays trivially
    small)."""
    return max(16, min(32768, int(n_rows**0.5)))


def choose_ann_strategy(
    n_rows: int,
    exact_max_rows: int = ANN_EXACT_MAX_ROWS,
) -> dict:
    """Pure cost model behind ``cosine_topk`` — separated so the
    dispatch decision is unit-testable without building DataFrames.

    Returns ``{"algo": ..., **params}``:

    * n <= exact_max_rows      -> blocked exact (no recall loss, and the
                                  measured regime where exact is fastest)
    * n  > exact_max_rows      -> IVF with n_cells ~ sqrt(n) (cells of
                                  ~sqrt(n) vectors balance the per-cell
                                  quadratic search against probe fan-out)
                                  and n_probe=8 (the smallest probe count
                                  that cleared 0.85 recall@5 in the
                                  BASELINE.md sweep on worst-case
                                  near-uniform embeddings).

    LSH (``cosine_topk_lsh``) is never picked: it is the fit-free path
    — no ML training job — but at equal candidate volume its recall on
    weakly-clustered embeddings measured below multi-probe IVF.
    """
    if n_rows <= exact_max_rows:
        return {"algo": "exact"}
    return {"algo": "ivf", "n_cells": auto_n_cells(n_rows), "n_probe": 8}


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Top-k cosine neighbors with cost-based plan selection — the one
    entry point a user should call.

    It counts the corpus and dispatches per ``choose_ann_strategy``.
    The count is metadata-only for a bare
    parquet scan but a real (column-pruned) scan job for filtered or
    projected inputs — still cheap relative to any ANN backend, and
    both chosen backends count again anyway (the blocked grid sizes
    its blocks, the IVF fit sizes its sample), so auto adds at most
    one extra count, not a second data pass of the heavy work. Both
    backends emit the same (vec_id, neighbor_id, rank, sim) schema with
    the same deterministic (sim DESC, neighbor_id ASC) tie-break.
    """
    strategy = choose_ann_strategy(df.count())
    if strategy["algo"] == "exact":
        return cosine_topk_blocked(df, id_col, vec_col, k)
    return cosine_topk_ivf(
        df,
        id_col,
        vec_col,
        k,
        n_cells=strategy["n_cells"],
        n_probe=strategy["n_probe"],
    )


def probe_cells(vec: Column, centroids: list[list[float]], n_probe: int) -> Column:
    """array<int> of the ``n_probe`` nearest cell ids for ``vec`` —
    squared distance to every centroid as a literal-array struct sort.
    Centroids are a driver-side list (tiny: n_cells rows) compiled into
    the projection, so cell assignment is pure JVM column work with no
    join."""
    dists = F.array(
        *[
            F.struct(
                dot(
                    F.zip_with(vec, F.array(*[F.lit(x) for x in c]), lambda a, b: a - b),
                    F.zip_with(vec, F.array(*[F.lit(x) for x in c]), lambda a, b: a - b),
                ).alias("d2"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.transform(F.slice(F.array_sort(dists), 1, n_probe), lambda p: p["cell"])


# Above this cell count the literal-compiled probe becomes infeasible:
# n_cells structs x 2 embedded centroid arrays x dim literals is
# O(n_cells * dim) expressions built one py4j call at a time, and the
# generated code blows past JVM method limits long before the 32768-cell
# corpora the cost model can select. The join path below takes over.
MAX_LITERAL_PROBE_CELLS = 64


def with_probe_cells(
    df: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """Append an exploded ``cell`` column: the ``n_probe`` nearest
    centroids per row of ``df`` (which must carry ``id`` and the vector
    as ``v``).

    Two physically different plans, identical result (same
    (distance, cell) tie-break):

    * few cells — ``probe_cells`` literal expression, pure projection;
    * many cells — broadcast join against the centroid table, then a
      partial-aggregating top-n_probe per id over bare (d2, cell)
      structs, rejoined to ``df`` by id. n_rows x n_cells distance
      evaluations is the inherent IVF assignment cost; the join spreads
      it across the cluster instead of compiling it into one untenable
      expression. The d2/cell triples are 12 bytes each, so the
      aggregate's shuffle stays ~n_cells*12 B per row — the earlier
      window spelling shuffled the full join explosion WITH vector and
      centroid payloads (measured 10x slower at 157k rows x 396 cells:
      363 s vs 34 s end-to-end for the cluster-dedup caller). Identical
      (d2, cell) tie-break to the literal arm: array_sort on the struct
      orders by d2 then cell.
    """
    if len(centroids) <= MAX_LITERAL_PROBE_CELLS:
        return df.withColumn(
            "cell", F.explode(probe_cells(F.col("v"), centroids, n_probe))
        )
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, _centroid array<double>",
    )
    diff = F.zip_with(F.col("v"), F.col("_centroid"), lambda a, b: a - b)
    probes = (
        df.select("id", "v")
        .join(F.broadcast(cdf))
        .select("id", dot(diff, diff).alias("_d2"), "cell")
        .groupBy("id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("_d2", "cell"))), 1, n_probe
            ).alias("_pc")
        )
        .select(
            "id",
            F.explode(F.transform("_pc", lambda p: p["cell"])).alias("cell"),
        )
    )
    return df.join(probes, "id")


def _fit_centroids(
    base: DataFrame,
    n_cells: int,
    fit_sample_rows: int,
    n_rows: int | None = None,
    fit_partitions: int | None = None,
):
    """Shared KMeans fit for the in-memory IVF path and the persisted
    snapshot writer: train on at most ``fit_sample_rows`` vectors via a
    hash-deterministic subset (centroid quality converges long before
    corpus size), full table below the cap. Returns (model, ml) where
    ``ml`` is ``base`` with the ML features column attached.
    ``n_rows`` skips the count when the caller already knows it (e.g.
    it counted for the auto cell rule).

    ``fit_partitions`` repartitions the (sample-sized) fit input so the
    ~20 KMeans iterations parallelize: the sample inherits the SOURCE's
    partitioning, which is pathological in both directions — a couple
    of local parquet files serialize every iteration on 2 tasks, and a
    100 TB corpus leaves the ≤fit_sample_rows sample smeared over tens
    of thousands of near-empty partitions paying per-task scheduling
    ~20 times. Off by default because repartitioning changes float
    aggregation order and therefore centroid low bits — the IVF query
    family pins KMeans-dependent recall scalars in its oracles
    (q_ann_recall) and must stay byte-stable; callers whose invariants
    are centroid-independent (embedding_cluster_dedup) opt in."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ml = base.withColumn("features", array_to_vector(F.col("v")))
    fit_on = ml
    if n_rows is None:
        n_rows = ml.count()
    if n_rows > fit_sample_rows:
        frac_rank = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
        cutoff = int(0xFFFFFFFF * (fit_sample_rows / n_rows))
        fit_on = ml.filter(frac_rank.cast("long") <= F.lit(cutoff))
    if fit_partitions is not None:
        fit_on = fit_on.repartition(fit_partitions)
    model = KMeans(
        k=n_cells, seed=42, featuresCol="features", predictionCol="cell"
    ).fit(fit_on)
    return model, ml


# ---------------------------------------------------------------------------
# Incremental ANN: search new embeddings against a persisted IVF snapshot
# ---------------------------------------------------------------------------


def write_ivf_snapshot(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
) -> None:
    """Persist an IVF index of a corpus: ``{path}/centroids`` (cell,
    centroid) and ``{path}/cells`` (id, v, n, cell) as parquet — the
    embedding twin of ``write_dedup_snapshot``. The corpus is indexed
    ONCE; every later delta searches only its probe cells
    (``search_ivf_snapshot``) instead of re-fitting or re-scanning.

    The KMeans fit samples at most ``IVF_FIT_SAMPLE_ROWS`` vectors
    (hash-deterministic, same rule as ``cosine_topk_ivf``); the cell
    table stores normalized-input vectors so searches skip re-norming.
    """
    import os

    base = _with_norm(emb, "vec_id", "embedding")
    model, ml = _fit_centroids(base, n_cells, IVF_FIT_SAMPLE_ROWS)
    spark = emb.sparkSession
    spark.createDataFrame(
        [(i, list(map(float, c))) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
        # repartition(1) not coalesce(1): single-task coalesce of a
        # parallelized LocalRelation costs seconds (write_bpe_model's
        # measured pathology); order is irrelevant (cell-keyed reads)
    ).repartition(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    model.transform(ml).select("id", "v", "n", "cell").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "cells"))


def search_ivf_snapshot(
    new_emb: DataFrame,
    snapshot_path: str,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Top-k neighbors of each NEW vector among the snapshot corpus —
    the re-ingest ANN path (near-dup gate for a delta against the
    curated corpus, O(delta x probed cells), no re-fit, no re-scan).

    Centroids collect to the driver (n_cells rows — tiny by
    construction); the probe compiles as literals for few cells and
    switches to the broadcast-join path past MAX_LITERAL_PROBE_CELLS
    (see ``with_probe_cells``). The search is an equi-join of (new vec,
    probe cell) against the stored cell table, exact cosine ranking
    within probed cells, deterministic (sim DESC, neighbor_id ASC)
    tie-break — the same output contract as every other top-k in this
    module. ``n_probe = n_cells`` makes the search exact."""
    import os

    spark = new_emb.sparkSession
    cents = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(os.path.join(snapshot_path, "centroids")).collect()
    }
    centroids = [cents[i] for i in range(len(cents))]
    index = spark.read.parquet(os.path.join(snapshot_path, "cells")).select(
        F.col("id").alias("n_id"), F.col("v").alias("n_v"), F.col("n").alias("n_n"), "cell"
    )
    queries = with_probe_cells(
        _with_norm(new_emb, "vec_id", "embedding"), centroids, n_probe
    ).select(
        F.col("id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("n").alias("q_n"),
        "cell",
    )
    sim = dot(F.col("q_v"), F.col("n_v")) / (F.col("q_n") * F.col("n_n"))
    pairs = queries.join(index, "cell").select(
        F.col("q_id").alias("vec_id"),
        F.col("n_id").alias("neighbor_id"),
        sim.alias("sim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


def ivf_snapshot_balance(spark, snapshot_path: str) -> DataFrame:
    """One-row health summary of a (possibly appended-to) IVF index:
    (n_cells_total, n_cells_used, n_vectors, max_cell_rows,
    balance_ratio) where balance_ratio = max cell size / (n_vectors /
    n_cells_total) — the denominator is the mean over ALL fitted
    centroids (read from the centroids table), not just the used ones,
    so total concentration (every appended vector landing in one cell,
    the exact degradation this monitor exists to flag) reports a ratio
    of n_cells_total, not a healthy-looking 1.0. A ratio creeping
    toward n_cells_total means probe cost approaches brute force and a
    re-fit is due. One aggregation over the cells table; no vector
    data read (column pruning keeps the scan to the ``cell`` column);
    the centroid count is a metadata-cheap count of a tiny table."""
    import os

    n_cells_total = spark.read.parquet(
        os.path.join(snapshot_path, "centroids")
    ).count()
    cells = spark.read.parquet(os.path.join(snapshot_path, "cells")).select("cell")
    per_cell = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    return per_cell.agg(
        F.lit(n_cells_total).alias("n_cells_total"),
        F.count(F.lit(1)).alias("n_cells_used"),
        F.sum("n").alias("n_vectors"),
        F.max("n").alias("max_cell_rows"),
        F.round(F.max("n") / (F.sum("n") / F.lit(n_cells_total)), 4).alias(
            "balance_ratio"
        ),
    )


def maybe_refit_ivf_snapshot(
    spark,
    snapshot_path: str,
    max_balance_ratio: float = 8.0,
) -> dict:
    """Re-fit policy closing the append-only lifecycle: check
    ``ivf_snapshot_balance`` and call for a re-fit when the max cell has grown past
    ``max_balance_ratio`` x the all-cells mean (the probe cost of the
    fattest cell approaches brute force) OR when sqrt-growth says the
    index is under-celled (appends tripled the corpus -> sqrt(n) wants
    >2x the fitted cells). One cheap aggregation; nothing is re-fitted
    here. Returns the balance row plus the target cell count and the
    action due ("refit" or "none") — the shape a scheduler uses to plan
    maintenance windows (a re-fit is ``write_ivf_snapshot`` with
    ``n_cells=target_cells``)."""
    row = ivf_snapshot_balance(spark, snapshot_path).collect()[0]
    target_cells = max(16, min(32768, int(row["n_vectors"] ** 0.5)))
    trigger = (
        row["balance_ratio"] >= max_balance_ratio
        or target_cells >= 2 * row["n_cells_total"]
    )
    out = {k: row[k] for k in row.asDict()}
    out["target_cells"] = target_cells
    out["action"] = "refit" if trigger else "none"
    return out
