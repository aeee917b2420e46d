"""Deterministic cardinality / frequency sketches (HLL, Count-Min).

At 100 TB you do not count distincts or term frequencies exactly on a
whim — you sketch them. Spark's built-ins (approx_count_distinct's
HLL++, count_min_sketch) are implementation-opaque, which is fine in
production but unverifiable on this repo's cross-engine correctness
gate. These operators implement the same two classic sketches
(Flajolet et al. 2007 HyperLogLog; Cormode & Muthukrishnan 2005
Count-Min) from their published definitions on the md5 hash family —
every intermediate is integer-exact or a single deterministic double
expression, so a DuckDB oracle reproduces the ESTIMATES bit-for-bit,
and the queries can put estimate-vs-exact error on the gate itself.

Scale shape: both sketches are one explode + one aggregation shuffle
whose output is sketch-sized (m registers / d*w cells), not
data-sized — the whole point. The exact counts computed alongside in
the gate queries are for error measurement at test scale; production
callers use the sketch alone.

Numeric determinism notes:
* register sums use 2^(RHO_MAX - r) in BIGINT — float summation order
  never enters;
* the bias constant and the combined numerator are inlined as ONE
  Python-computed double literal, so JVM and DuckDB evaluate the same
  single division;
* ln() appears only in the linear-counting branch on identical inputs
  (1-ulp libm differences are erased by round(. , 3); the proven
  surprisal pattern).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- HyperLogLog (p=10: m=1024 registers, 32-bit md5-slice hash) -----------

HLL_P = 10
HLL_M = 1 << HLL_P  # 1024
_HLL_Q = 32 - HLL_P  # tail bits
HLL_RHO_MAX = _HLL_Q + 1  # rho when the tail is all zeros
#: alpha_m * m^2 * 2^RHO_MAX as ONE double literal (see module notes)
HLL_NUMERATOR = 0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * float(1 << HLL_RHO_MAX)
#: linear-counting threshold 2.5 * m
HLL_LC_THRESHOLD = 2.5 * HLL_M


def _hash32(value: Column) -> Column:
    """First 32 bits of md5 as a bigint — the engine-portable uniform
    hash (DuckDB: ('0x' || substr(md5(v), 1, 8))::BIGINT)."""
    return F.conv(F.substring(F.md5(value), 1, 8), 16, 10).cast("bigint")


def hll_register(value: Column) -> tuple[Column, Column]:
    """(register index, rho) for one value: idx = top p hash bits,
    rho = leading-zero count of the q-bit tail + 1. bit_length comes
    from length(conv(tail, 10, 2)) — integer-exact, no log2 floats."""
    h = _hash32(value)
    idx = F.shiftright(h, _HLL_Q)
    tail = h.bitwiseAND(F.lit((1 << _HLL_Q) - 1))
    rho = F.when(tail == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_Q) - F.length(F.conv(tail.cast("string"), 10, 2)) + 1
    )
    return idx, rho


def hll_fold_registers(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold observed (group..., r) max-rho register rows into the
    estimate columns (group..., n_registers, hll_estimate, method).
    Shared by the batch operator and the streaming twin — the
    streaming query's bounded STATE is exactly the register table, and
    this finish step runs on the drained sink."""
    folded = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        # pyspark's shiftleft() binds numBits as a literal int only;
        # the SQL twin takes an expression
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - r)")).alias(
            "_s_obs"
        ),
    )
    s = F.col("_s_obs") + (F.lit(HLL_M) - F.col("n_obs")) * F.lit(1 << HLL_RHO_MAX)
    raw = F.lit(HLL_NUMERATOR) / s
    zeros = F.lit(HLL_M) - F.col("n_obs")
    use_lc = (raw <= F.lit(HLL_LC_THRESHOLD)) & (zeros > 0)
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros)
    return folded.select(
        *group_cols,
        F.col("n_obs").alias("n_registers"),
        F.round(F.when(use_lc, lc).otherwise(raw), 3).alias("hll_estimate"),
        F.when(use_lc, F.lit("linear_counting")).otherwise(F.lit("hll")).alias("method"),
    )


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group HLL cardinality estimate: (group, n_registers,
    hll_estimate, method). Two aggregation shuffles, both on
    sketch-bounded keys: (group, register) max-rho, then per-group
    register folding. No correction above the 32-bit range (fine below
    ~100M distinct per group; raise the hash width before the corpus
    gets there).
    """
    idx, rho = hll_register(F.col(value_col))
    regs = (
        df.select(F.col(group_col).alias("grp"), idx.alias("_i"), rho.alias("_r"))
        .groupBy("grp", "_i")
        .agg(F.max("_r").alias("r"))
    )
    return hll_fold_registers(regs, ["grp"]).withColumnRenamed("grp", group_col)


def hll_oracle_sql(table_expr: str, group_col: str, value_expr: str) -> str:
    """The DuckDB twin of hll_distinct — generated next to the
    constants so Spark and SQL can never drift apart on p / alpha /
    thresholds."""
    q = _HLL_Q
    return f"""
    WITH v AS (SELECT {group_col} AS grp, {value_expr} AS val FROM {table_expr}),
    hr AS (SELECT grp,
                  ('0x' || substr(md5(val), 1, 8))::BIGINT >> {q} AS i,
                  ('0x' || substr(md5(val), 1, 8))::BIGINT & {(1 << q) - 1} AS tail
           FROM v),
    regs AS (SELECT grp, i,
                    max(CASE WHEN tail = 0 THEN {HLL_RHO_MAX}
                             ELSE {q} - length(bin(tail)) + 1 END) AS r
             FROM hr GROUP BY grp, i),
    folded AS (SELECT grp, count(*) AS n_obs,
                      CAST(sum(1::BIGINT << ({HLL_RHO_MAX} - r)) AS BIGINT) AS s_obs
               FROM regs GROUP BY grp),
    est AS (SELECT grp, n_obs,
                   {HLL_NUMERATOR!r} /
                     (s_obs + ({HLL_M} - n_obs) * {1 << HLL_RHO_MAX}) AS raw,
                   {HLL_M} - n_obs AS zeros
            FROM folded)
    SELECT grp AS {group_col}, CAST(n_obs AS BIGINT) AS n_registers,
           round(CASE WHEN raw <= {HLL_LC_THRESHOLD!r} AND zeros > 0
                      THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / zeros)
                      ELSE raw END, 3) AS hll_estimate,
           CASE WHEN raw <= {HLL_LC_THRESHOLD!r} AND zeros > 0
                THEN 'linear_counting' ELSE 'hll' END AS method
    FROM est
    """


# --- Count-Min (d=4 rows, w=256 cells; conservative point queries) ---------

CM_DEPTH = 4
CM_WIDTH = 256


def _cm_cell(j: int, value: Column) -> Column:
    """Row-j cell index: 32-bit md5 slice of 'j|value' mod CM_WIDTH."""
    return _hash32(F.concat(F.lit(f"{j}|"), value)) % CM_WIDTH


def cm_probes(value: Column) -> Column:
    """ONE definition of the (j, cell) probe fan-out — explode of the
    per-row struct array. Sketch build, batch point-query, and both
    streaming twins all route through this, so the cell addressing can
    never drift between the writer and any reader."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("j"), _cm_cell(j, value).alias("cell"))
                for j in range(CM_DEPTH)
            ]
        )
    )


def countmin_sketch(df: DataFrame, value_col: str) -> DataFrame:
    """(row j, cell, cell_count) — the full d x w sketch in long form.
    One explode to d rows per value, one aggregation shuffle onto at
    most d*w grouped keys (map-side combine collapses the stream to
    sketch size before the exchange)."""
    v = F.col(value_col)
    return (
        df.select(cm_probes(v).alias("_r"))
        .select(F.col("_r.j").alias("j"), F.col("_r.cell").alias("cell"))
        .groupBy("j", "cell")
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )


def countmin_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    value_col: str,
) -> DataFrame:
    """Point-query the sketch for each candidate value: the classic
    min over rows of the value's cell counts (never underestimates).
    Candidates explode to d (j, cell) probes, equi-join the sketch
    (broadcast — the sketch is d*w rows by construction), then a min
    per value."""
    v = F.col(value_col)
    probes = candidates.select(
        v.alias("val"), cm_probes(v).alias("_p")
    ).select("val", F.col("_p.j").alias("j"), F.col("_p.cell").alias("cell"))
    return (
        probes.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("val")
        .agg(
            F.min("cell_count").alias("cm_estimate"),
            F.count(F.lit(1)).alias("_nj"),
        )
        # a value absent from the data may miss sketch cells entirely;
        # a partial join must read as absent (dropped), not as the min
        # of foreign cells
        .filter(F.col("_nj") == CM_DEPTH)
        .select(F.col("val").alias(value_col), "cm_estimate")
    )


def cm_cell_sql(j: int, value_expr: str) -> str:
    """DuckDB twin of _cm_cell."""
    return (
        f"('0x' || substr(md5('{j}|' || {value_expr}), 1, 8))::BIGINT % {CM_WIDTH}"
    )


# --- Bloom filter (m bits, k md5 hashes; join-prefilter pattern) -----------

BLOOM_M = 1 << 16
BLOOM_K = 4


def _bloom_bit(j: int, value: Column) -> Column:
    return _hash32(F.concat(F.lit(f"b{j}|"), value)) % BLOOM_M


def bloom_bits_table(df: DataFrame, value_col: str) -> DataFrame:
    """Build the filter as its distinct set-bit table (single column
    ``bit``) — at most BLOOM_M rows regardless of the build side's size,
    hence always broadcastable. The classic 100 TB use: build on the
    small/reference side, broadcast, and prefilter the fact side
    BEFORE its shuffle — only maybe-members pay the exact join."""
    v = F.col(value_col)
    return (
        df.select(
            F.explode(F.array(*[_bloom_bit(j, v) for j in range(BLOOM_K)])).alias("bit")
        )
        .distinct()
    )


def bloom_probe(
    df: DataFrame,
    id_cols: list[str],
    value_col: str,
    bits: DataFrame,
) -> DataFrame:
    """Append ``bloom_maybe``: true iff ALL BLOOM_K of the value's bits are
    set (the Bloom guarantee: never a false negative, bounded false
    positives). Probes explode to k rows, inner-join the broadcast bit
    table, and a count==k per (ids, value) recovers the AND."""
    v = F.col(value_col)
    probes = df.select(
        *id_cols,
        v.alias("_val"),
        F.explode(F.array(*[_bloom_bit(j, v) for j in range(BLOOM_K)])).alias("bit"),
    )
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy(*id_cols, "_val")
        .agg(F.count(F.lit(1)).alias("_nbits"))
    )
    return (
        df.select(*id_cols, v.alias("_val"))
        .join(hits, [*id_cols, "_val"], "left")
        .select(
            *id_cols,
            F.col("_val").alias(value_col),
            (F.coalesce(F.col("_nbits"), F.lit(0)) == BLOOM_K).alias("bloom_maybe"),
        )
    )


def bloom_bitmap_hex(bits: DataFrame) -> str:
    """Collect the set-bit table into a BLOOM_M-bit hex nibble map (one hex
    char per 4 bits, char ``p // 4`` carries bit ``p % 4`` as its
    ``1 << (p % 4)`` value). The collect is bounded by ``BLOOM_M`` — 16 Ki
    chars / 8 KiB of bitmap at m=65536 — NEVER by the
    build side's row count, which is the same guarantee that made the
    bit table broadcastable; materializing it on the driver just
    moves the filter from a join operand into the task binary."""
    nibbles = [0] * ((BLOOM_M + 3) // 4)
    for r in bits.collect():
        p = int(r["bit"])
        nibbles[p // 4] |= 1 << (p % 4)
    return "".join(f"{v:x}" for v in nibbles)


def bloom_probe_compiled(
    df: DataFrame,
    value_col: str,
    hexmap: str,
) -> DataFrame:
    """The PRODUCTION probe shape: append ``bloom_maybe`` as a pure
    Column expression against a compiled bitmap literal — zero joins,
    zero shuffles, zero extra rows; the filter rides into every task
    as an 8 KiB string constant and the k bit tests run inside
    whole-stage codegen. This is how a Bloom prefilter actually pays
    off at 100 TB: the fact side is touched ONCE, the maybe-members
    continue to the exact join, and nothing explodes k-fold
    (:func:`bloom_probe`, the join spelling, explodes each probe to k
    rows and shuffles a (ids, value) aggregate — fine for a
    streaming-state twin, 3 extra exchanges on a batch corpus).

    Same bits, same semantics as ``bloom_probe``: never a false
    negative, bounded false positives.

    Representation matters at this row rate: the bitmap compiles to an
    ``array<int>`` literal of nibbles probed with O(1) ``element_at``
    inside ONE ``forall`` lambda (single copy in the plan). The
    tempting hex-STRING literal + per-row ``substring`` is a trap —
    Spark's UTF8String counts characters from the start on every
    substring call, so each probe would scan the whole 16 Ki-char
    constant: measured 360 s vs 42 s at sf1 before this spelling.
    Bit (p % 4) extracts via exact small-power division (shiftright
    only takes a literal shift amount)."""
    if len(hexmap) != (BLOOM_M + 3) // 4:
        raise ValueError(
            f"hexmap length {len(hexmap)} does not match m={BLOOM_M}"
        )
    v = F.col(value_col)
    # The nibble array enters the plan as a PARSED SQL literal, not
    # F.lit(list): py4j converts a Python list element-by-element over
    # the gateway socket, and at m=65536 (16 Ki nibbles) that is ~7 s
    # of single-threaded DRIVER time on EVERY plan build (measured
    # this box; guide §7.3's "driver doing single-threaded work"
    # class). The SQL text parses in ~0.4 s and yields the identical
    # array<int> literal — same codegen, same values.
    arr = F.expr(
        "array(" + ",".join(str(int(c, 16)) for c in hexmap) + ")"
    )
    probes = F.array(*[_bloom_bit(j, v) for j in range(BLOOM_K)])

    def _hit(p: Column) -> Column:
        digit = F.element_at(arr, (p / F.lit(4)).cast("int") + 1)
        return (
            F.floor(digit / F.pow(F.lit(2.0), (p % 4).cast("double"))).cast("int")
            % 2
            == 1
        )

    return df.withColumn("bloom_maybe", F.forall(probes, _hit))


def bloom_bit_sql(j: int, value_expr: str) -> str:
    """DuckDB twin of _bloom_bit."""
    return f"('0x' || substr(md5('b{j}|' || {value_expr}), 1, 8))::BIGINT % {BLOOM_M}"


# --- Histogram quantiles (fixed-bin approximate percentiles) ---------------

HIST_BINS = 1024


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Approximate percentiles by equi-width histogram — the at-scale
    quantile path (Spark's percentile_approx is a similar idea with an
    opaque internal sketch; this one is deterministic and
    oracle-checkable). Two passes: an exact (min, max, count) fold,
    then one aggregation onto at most ``HIST_BINS`` keys; the error bound
    is one bin width, reported alongside.

    Output: (quantile, approx_value, bin_width, n_rows) — approx is
    the selected bin's midpoint, the smallest bin whose running count
    reaches ceil-free ``q * n`` (double compare; both engines evaluate
    the identical expression). Degenerate all-equal columns collapse
    to bin 0 with width 0.
    """
    v = F.col(value_col).cast("double")
    minmax = df.agg(
        F.min(v).alias("_lo"), F.max(v).alias("_hi"), F.count(v).alias("_n")
    )
    binned = (
        df.select(v.alias("_v"))
        .crossJoin(F.broadcast(minmax))
        .select(
            F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(HIST_BINS - 1),
                    F.floor(
                        (F.col("_v") - F.col("_lo"))
                        / (F.col("_hi") - F.col("_lo"))
                        * HIST_BINS
                    ),
                )
            )
            .cast("int")
            .alias("bin"),
            "_lo",
            "_hi",
            "_n",
        )
        .groupBy("bin", "_lo", "_hi", "_n")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = binned.select(
        "bin",
        "_lo",
        "_hi",
        "_n",
        F.expr(
            "sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ).alias("cum"),
    )
    qs = cum.select(
        "*", F.explode(F.array(*[F.lit(float(q)) for q in (0.5, 0.9, 0.99)])).alias("quantile")
    )
    width = (F.col("_hi") - F.col("_lo")) / HIST_BINS
    return (
        qs.groupBy("quantile", "_lo", "_hi", "_n")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.col("quantile") * F.col("_n"), F.col("bin"))
            ).alias("_bin")
        )
        .select(
            "quantile",
            F.round(F.col("_lo") + (F.col("_bin") + 0.5) * width, 4).alias(
                "approx_value"
            ),
            F.round(width, 4).alias("bin_width"),
            F.col("_n").alias("n_rows"),
        )
    )


def histogram_quantiles_oracle_sql(table_expr: str, value_expr: str) -> str:
    """DuckDB twin — identical arithmetic and parenthesization so the
    doubles agree to the bit."""
    qlist = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in (0.5, 0.9, 0.99))
    return f"""
    WITH mm AS (SELECT min(CAST({value_expr} AS DOUBLE)) AS lo,
                       max(CAST({value_expr} AS DOUBLE)) AS hi,
                       count({value_expr}) AS n
                FROM {table_expr}),
    b AS (SELECT CASE WHEN mm.hi = mm.lo THEN 0
                      ELSE CAST(least({HIST_BINS - 1},
                           floor((CAST({value_expr} AS DOUBLE) - mm.lo)
                                 / (mm.hi - mm.lo) * {HIST_BINS})) AS INTEGER)
                 END AS bin, mm.lo, mm.hi, mm.n
          FROM {table_expr}, mm),
    g AS (SELECT bin, lo, hi, n, count(*) AS c FROM b GROUP BY 1, 2, 3, 4),
    cum AS (SELECT bin, lo, hi, n,
                   sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM g),
    q AS (SELECT cum.*, q.quantile FROM cum,
          (SELECT unnest([{qlist}]) AS quantile) q)
    SELECT quantile,
           round(lo + (min(CASE WHEN cum >= quantile * n THEN bin END) + 0.5)
                 * ((hi - lo) / {HIST_BINS}), 4) AS approx_value,
           round((hi - lo) / {HIST_BINS}, 4) AS bin_width,
           CAST(n AS BIGINT) AS n_rows
    FROM q GROUP BY quantile, lo, hi, n
    """
