"""Deduplication operators for the LLM-data-pipeline extension.

All variants are expressed as declarative DataFrame plans:

* exact          — hash-groupBy on a canonical fingerprint (one shuffle)
* minhash + LSH  — shingle -> per-band min-hash signature -> band-bucket
                   self-join. The join is on (band, signature), so at
                   100 TB it is an equi-join whose build side is the
                   banded signature table (tiny vs the corpus); skewed
                   buckets (boilerplate docs) are handled by AQE skew
                   splitting.
* simhash        — 16-bit sign-sum sketch over token hashes; near-dups
                   bucket by bit-sliced pigeonhole banding for
                   Hamming<=k (``simhash_near_dup_pairs``).
* n-gram Jaccard — exact verify step for LSH candidates.

Hash family: md5 hex (JVM built-in, deterministic across engines) —
the min over shingles of md5(salt || shingle) is a valid min-wise hash
per band, and keeping it string-typed lets the DuckDB oracle replicate
it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WS = "\\s+"

# Default mega-bucket guard for EVERY pair emitter (batch and the
# streaming twins import it): buckets above this star-emit against the
# min-id representative instead of all-pairs. The sf10 probe
# (tools/dedup_cap_probe.py, BASELINE.md) shows uncapped emission grows
# quadratically on boilerplate-dense corpora (384M pairs; winnow OOMs at
# sf1) while capped stays linear — so capped IS the operating mode, and
# exact all-pairs is the explicit opt-out (``max_bucket_size=None``) for
# oracle-parity checks at test scale.
DEFAULT_MAX_BUCKET_SIZE = 64


def _words(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), _WS), lambda t: t != F.lit(""))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles as an array<string> (distinct, order-free set).

    Spelled as zip_with over k-1 shifted views of the word array —
    string concats only, no per-shingle slice/array allocation (the
    index-generate + slice spelling costs ~3x more in the interpreted
    lambda evaluator). Documents shorter than k words yield one shingle
    of all their words.
    """
    c = F.col(text) if isinstance(text, str) else text
    w = _words(c)
    n = F.size(w)
    sh = w
    for i in range(1, k):
        shifted = F.slice(w, i + 1, F.greatest(n - i, F.lit(1)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    # trailing positions lack a full window -> concat with null -> null
    sh = F.filter(sh, lambda x: x.isNotNull())
    return F.array_distinct(
        # zero-token documents have NO shingles (not a [''] sentinel) —
        # keeps engine and SQL oracles agreeing on blank-document rows
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.concat_ws(" ", w)))
        .otherwise(sh)
    )


def _band_digest_salt(band: int) -> str:
    """Digest-group salt for band b: bands are carved 4-per-md5 (one
    128-bit digest = four independent 32-bit hex slices), so only every
    4th band needs a fresh salted digest. Salt '' for the first group
    keeps the common n_bands<=4 case a bare md5(shingle) — cheapest and
    trivially oracle-expressible."""
    group = band // 4
    return "" if group == 0 else f"{group}|"


def _band_slice(digest: Column, band: int) -> Column:
    return F.substring(digest, 1 + (band % 4) * 8, 8)


def minhash_band_signature(shingles: Column, band: int) -> Column:
    """Min-wise hash for one band: min over shingles of an 8-hex slice
    of md5. Lexicographic min over hex strings is a uniform order, and
    the four 32-bit slices of one md5 are independent, so each band is
    an independent hash family member at a quarter of the digest cost."""
    salt = _band_digest_salt(band)
    return F.array_min(
        F.transform(
            shingles,
            lambda s: _band_slice(F.md5(F.concat(F.lit(salt), s) if salt else s), band),
        )
    )


def minhash_band_signature_array(shingles: Column) -> Column:
    """All 4 band minima in ONE pass: array<string> of length 4,
    element b == minhash_band_signature(shingles, b), null for empty
    shingle arrays.

    Why not 4 calls to minhash_band_signature: Catalyst performs no
    cross-expression CSE, so parallel array_min/transform expressions
    re-evaluate the shingle array AND re-digest every shingle per band
    (the round-3 simhash lesson). Here one md5 runs per shingle inside
    a single aggregate whose accumulator holds every band's running
    minimum — band b is the digest's 8-hex slice b; '~' (0x7E, above
    any hex char) is the identity sentinel, mapped to null at finish."""
    hashed = F.transform(shingles, lambda s: F.md5(s))
    return F.aggregate(
        hashed,
        F.array(*[F.lit("~") for _ in range(4)]),
        lambda acc, z: F.array(
            *[
                F.least(F.element_at(acc, b + 1), F.substring(z, 1 + b * 8, 8))
                for b in range(4)
            ]
        ),
        lambda acc: F.transform(
            acc, lambda v: F.when(v == "~", F.lit(None).cast("string")).otherwise(v)
        ),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    shingle_k: int = 3,
    hash_family: str = "md5",
) -> DataFrame:
    """(id, band, signature) — long form, ready for the bucket join.

    Shape: explode md5(shingle) — hashed INSIDE the array transform so
    each shingle is digested exactly once regardless of band count
    (Catalyst's projection collapse would otherwise re-digest per
    band-aggregate) — then ONE hash aggregation computing every band's
    minimum as a parallel aggregate with map-side partial min; the
    shuffle carries only (id, partial-mins). A shuffle-free stack
    unpivots to long form. Bands are 8-hex slices of the digest
    (4 bands per md5; >4 bands salt additional digests).

    ``hash_family``: 'md5' (default) keeps the hex-string family a
    DuckDB oracle replicates exactly — the correctness-gate mode.
    'xxhash64' swaps in Spark's native 64-bit hash, one call per
    (shingle, band) with the band index as an extra hashed column —
    signatures become bigint, buckets and min-wise semantics are
    unchanged, and the signature stage runs ~1.45x faster / the full
    pair emission ~1.3x (sf1 A/B in BASELINE.md — shingle construction,
    not digesting, is the larger cost, which bounds the win). Same
    candidate recall mechanics — any two documents agreeing on a band
    minimum still pair — but the hash VALUES differ, so snapshots
    written by one family cannot be probed with the other
    (incremental_dedup pins the family in its snapshot schema).
    """
    if hash_family == "xxhash64":
        sh = word_shingles(F.col(text_col), shingle_k)
        exploded = df.select(F.col(id_col).alias("id"), F.explode(sh).alias("_s"))
        mins = exploded.groupBy("id").agg(
            *[
                F.min(F.xxhash64(F.lit(b), F.col("_s"))).alias(f"_b{b}")
                for b in range(n_bands)
            ]
        )
        stack_expr = "stack({}, {}) as (band, signature)".format(
            n_bands, ", ".join(f"{b}, _b{b}" for b in range(n_bands))
        )
        return mins.selectExpr("id", stack_expr)
    if hash_family != "md5":
        raise ValueError(f"unknown hash_family {hash_family!r}")
    sh = word_shingles(F.col(text_col), shingle_k)
    n_digests = (n_bands + 3) // 4
    digest_cols = [
        F.explode(
            F.transform(
                sh,
                (lambda salt: lambda s: F.md5(F.concat(F.lit(salt), s) if salt else s))(
                    _band_digest_salt(g * 4)
                ),
            )
        ).alias(f"_h{g}")
        for g in range(n_digests)
    ]
    if n_digests == 1:
        exploded = df.select(F.col(id_col).alias("id"), digest_cols[0])
    else:
        # multiple digest groups: explode arrays zipped positionally so
        # each shingle contributes one row carrying all its digests
        zipped = F.arrays_zip(
            *[
                F.transform(
                    sh,
                    (lambda salt: lambda s: F.md5(F.concat(F.lit(salt), s) if salt else s))(
                        _band_digest_salt(g * 4)
                    ),
                )
                for g in range(n_digests)
            ]
        )
        exploded = df.select(
            F.col(id_col).alias("id"), F.explode(zipped).alias("_z")
        ).select("id", *[F.col("_z")[str(g)].alias(f"_h{g}") for g in range(n_digests)])
    # min over BIGINT, not the hex slice string (r12): a string min is
    # a DeclarativeAggregate with an immutable buffer, so Spark plans
    # SortAggregate — TWO full sorts of the exploded digest stream
    # (partial + final) per query. Fixed-width lowercase hex orders
    # identically to its numeric value, so conv(slice,16,10) -> min ->
    # lower(lpad(conv(min,10,16),8,'0')) is value-exact and the
    # aggregate becomes a HashAggregate with map-side partial min
    # (q_minhash_lsh_pairs plan: 4 Sort nodes -> 0).
    mins = exploded.groupBy("id").agg(
        *[
            F.min(
                F.conv(_band_slice(F.col(f"_h{b // 4}"), b), 16, 10).cast(
                    "bigint"
                )
            ).alias(f"_b{b}")
            for b in range(n_bands)
        ]
    )
    stack_expr = "stack({}, {}) as (band, _sig_num)".format(
        n_bands, ", ".join(f"{b}, _b{b}" for b in range(n_bands))
    )
    return mins.selectExpr("id", stack_expr).select(
        "id",
        "band",
        F.lower(F.lpad(F.conv(F.col("_sig_num"), 10, 16), 8, "0")).alias(
            "signature"
        ),
    )


def _capped_bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int,
    payload_col: str | None = None,
) -> DataFrame:
    """Shared mega-bucket guard for ALL batch pair emitters: ``rows``
    is the long-form (bucket key, id[, payload]) table; emit all-pairs
    within buckets of at most ``max_bucket_size`` members and STAR
    pairs (min-id representative, member) for larger ones.

    AQE skew-join splits shuffle partitions, not OUTPUT cardinality: a
    boilerplate bucket of b near-identical docs emits ~b²/2 pairs from
    the plain self-join no matter how the shuffle is carved. Star
    emission bounds that to b-1 pairs while keeping every member
    FLAGGED — ``analytics.clusters.dedup_clusters`` transitively closes
    the star back into the full duplicate cluster, so keeper sets are
    unchanged; only the explicit pair list (and hence which partner a
    verify step scores each member against) is reduced. One window
    shuffle for (count, min) per bucket, then the self-join runs ONLY
    on the small-bucket side.

    ``payload_col`` (the SimHash sketch) rides along as ``_pay_a`` /
    ``_pay_b`` so verify expressions (Hamming popcount) can score each
    pair — star pairs carry the representative's payload on the a-side.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    rep = (
        F.min(F.struct("id", payload_col)).over(w)
        if payload_col
        else F.min("id").over(w)
    )
    # materialize the sized frame ONCE (r12): it feeds THREE consumers
    # (both self-join sides + the star branch), and without the
    # checkpoint each consumer re-runs the window sort AND the whole
    # upstream fingerprint subtree (ReuseExchange dedupes only the
    # exchange, not the sort or the generate chain above it)
    sized = (
        rows.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_rep", rep)
        .localCheckpoint(eager=True)
    )
    keep = [*bucket_cols, "id"] + ([payload_col] if payload_col else [])
    small = sized.filter(F.col("_n") <= max_bucket_size).select(*keep)
    a = small.alias("a")
    b = small.alias("b")
    cond = (F.col("a.id") < F.col("b.id"))
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    sel = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
    if payload_col:
        sel += [
            F.col(f"a.{payload_col}").alias("_pay_a"),
            F.col(f"b.{payload_col}").alias("_pay_b"),
        ]
    small_pairs = a.join(b, cond).select(*sel)
    rep_id = F.col("_rep.id") if payload_col else F.col("_rep")
    star_sel = [rep_id.alias("id_a"), F.col("id").alias("id_b")]
    if payload_col:
        star_sel += [
            F.col(f"_rep.{payload_col}").alias("_pay_a"),
            F.col(payload_col).alias("_pay_b"),
        ]
    star_pairs = sized.filter(
        (F.col("_n") > max_bucket_size) & (F.col("id") != rep_id)
    ).select(*star_sel)
    return small_pairs.unionByName(star_pairs)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    hash_family: str = "md5",
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band signature.

    Plan: one shuffle to group by (band, signature); pairs emitted by a
    self-join on the bucket key.

    ``max_bucket_size`` is the batch twin of the streaming cap
    (streaming/dedup.minhash_pairs_stateful): buckets larger than the
    cap star-emit against their min-id representative — O(b) pairs
    instead of O(b²) for a boilerplate cluster of b docs — and the
    downstream transitive closure (dedup_clusters) reconstructs the
    identical cluster membership. The cap defaults ON
    (``DEFAULT_MAX_BUCKET_SIZE``) because AQE splits the shuffle, not
    the pair count — uncapped emission is quadratic on boilerplate
    clusters (sf10 probe: 384M pairs). ``None`` is the explicit
    opt-out for exact all-pairs emission at oracle/test scale.

    ``hash_family='xxhash64'`` is the fast non-oracle mode (see
    minhash_signatures) — identical plan shape, ~1.3x cheaper end to
    end at sf1 (BASELINE.md A/B), same exact-duplicate recall.
    """
    sig = minhash_signatures(df, id_col, text_col, n_bands, shingle_k, hash_family)
    if max_bucket_size is not None:
        # blank docs carry null signatures; the uncapped equi-join drops
        # them implicitly (null != null), but the window partition would
        # group them into ONE bucket and star-emit blank-doc pairs
        return _capped_bucket_pairs(
            sig.filter(F.col("signature").isNotNull()),
            ["band", "signature"],
            max_bucket_size,
        ).distinct()
    # materialize the compact (id, band, signature) frame ONCE before
    # the self-join (r12): each join side otherwise re-executes the
    # whole shingle+digest subtree — the dominant cost of the
    # operator. 4 rows per doc, hash-sized strings: narrow by
    # construction. (The capped branch needs no checkpoint here — it
    # references sig once; _capped_bucket_pairs materializes its own
    # multi-consumer frame.)
    sig = sig.localCheckpoint(eager=True)
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.signature") == F.col("b.signature"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verify step).
    Broadcast-joins the (id -> shingle set) map when it's small; at
    corpus scale the join shuffles on id, still one pass."""
    sets_ = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_k).alias("sh")
    ).filter(F.size("sh") > 0)  # blank docs have no shingle set at all
    a = sets_.alias("sa")
    b = sets_.alias("sb")
    return (
        pairs.join(a, pairs["id_a"] == F.col("sa.id"))
        .join(b, pairs["id_b"] == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
                / F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh")))
            ).alias("jaccard"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on whitespace-normalized lowercase text. Returns
    (fingerprint, keeper_id, n_dupes); keeper = min id (deterministic)."""
    normed = F.trim(F.regexp_replace(F.lower(F.col(text_col)), _WS, " "))
    return (
        df.select(F.md5(normed).alias("fingerprint"), F.col(id_col).alias("id"))
        .groupBy("fingerprint")
        .agg(F.min("id").alias("keeper_id"), F.count("*").alias("n_dupes"))
    )


def simhash16(text: Column | str) -> Column:
    """16-bit SimHash: per token, a 16-bit hash (first 4 md5 hex chars);
    per bit, sign-sum over tokens; sketch = bits where the sum > 0.

    Entirely built-ins: explode-free (transform + aggregate over the
    token array), so it composes into a single projection.
    """
    c = F.col(text) if isinstance(text, str) else text
    hashes = F.transform(
        _words(c), lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int")
    )
    # ONE aggregate with a 16-slot vote accumulator. The obvious
    # spelling — 16 independent F.aggregate(hashes, ...) calls, one per
    # bit — duplicates the `hashes` subtree into every aggregate, and
    # Catalyst does not common-subexpression-eliminate across them: the
    # md5 of every token is recomputed 16x (measured 21x slower than
    # DuckDB's equivalent at sf1 before this rewrite). Here the token
    # hash is a lambda VARIABLE inside the merge, so md5 runs once per
    # token; the zip_with updates 16 int votes per token JVM-side.
    bits = F.sequence(F.lit(0), F.lit(15))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 16),
        lambda acc, h: F.zip_with(
            acc,
            bits,
            # call_function: the F.shiftright wrapper insists on a
            # Python-int shift amount, but the SQL expression takes any
            # column — b here is a lambda variable
            lambda a, b: a
            + F.when(
                F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    # fold the vote array into the sketch int inside a single aggregate
    # so `votes` is evaluated once (element_at x16 would re-trigger the
    # same duplication)
    return F.aggregate(
        F.zip_with(
            votes,
            bits,
            lambda v, b: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1), b)
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")


def simhash16_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — the same 16-bit sketch as ``simhash16``, computed
    via explode + hash-aggregate instead of a higher-order-function
    aggregate. Output is bit-identical (hash-equality A/B at sf1).

    Why two spellings: higher-order-function lambdas run in Catalyst's
    INTERPRETED expression evaluator — md5/conv per token never enter
    whole-stage codegen — while the exploded form keeps the token hash
    and the 16 conditional vote sums inside codegen: measured 5.5 s ->
    3.1 s forced at sf1 (50k docs; BASELINE.md round-5 residue table).
    Trade-off: the explode adds one doc-count-sized shuffle (tokens
    collapse to one 16-vote row per doc in the map-side partial
    aggregate), where ``simhash16`` is a pure zero-shuffle projection —
    so the Column form stays the right choice when composing into an
    existing per-doc projection (near-dup slicing), and this table form
    is the right standalone materializer.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        # explode_outer keeps zero-token docs (sketch 0, matching the
        # Column form's empty-aggregate result)
        F.explode_outer(_words(F.col(text_col))).alias("_t"),
    )
    h = tok.withColumn(
        "_h", F.conv(F.substring(F.md5("_t"), 1, 4), 16, 10).cast("int")
    )
    votes = h.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("_t").isNull(), 0)
                .when(F.shiftright(F.col("_h"), b).bitwiseAND(1) == 1, 1)
                .otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(16)
        ]
    )
    sketch = sum(
        [
            F.when(F.col(f"_v{b}") > 0, F.lit(1 << b)).otherwise(0)
            for b in range(16)
        ]
    )
    return votes.select("id", sketch.cast("int").alias("simhash"))


def simhash_wide(text: Column | str) -> Column:
    """64-bit SimHash as FOUR 16-bit words (array<int>, little-endian by
    word) — the scale sketch. simhash16's 65,536-value space saturates
    around 50k docs (measured at sf1, BASELINE.md round 3: slice
    buckets of thousands of docs); 2^64 values keep bucket densities
    workable at corpus sizes where near-dup banding actually matters.

    Words are carved 4-per-digest exactly like minhash bands
    (``_band_digest_salt``): word g = hex chars [1+4g, 4+4g] of ONE md5
    per token — the four 16-bit slices of a digest are independent, so
    one digest funds the whole 64-bit hash. The vote pass is the
    single-aggregate shape from simhash16 (64-slot accumulator; a
    per-bit aggregate would re-digest every token 64x — see that
    docstring), and the word packing folds through one more aggregate
    so the votes array is evaluated exactly once."""
    c = F.col(text) if isinstance(text, str) else text
    word_hashes = F.transform(
        F.transform(_words(c), lambda t: F.md5(t)),
        lambda d: F.array(
            *[
                F.conv(F.substring(d, 1 + 4 * g, 4), 16, 10).cast("int")
                for g in range(4)
            ]
        ),
    )
    bits = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        word_hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, hw: F.zip_with(
            acc,
            bits,
            lambda a, b: a
            + F.when(
                F.call_function(
                    "shiftright",
                    F.element_at(hw, (b / 16).cast("int") + 1),
                    b % 16,
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(votes, bits, lambda v, b: F.struct(b.alias("b"), v.alias("v"))),
        F.array_repeat(F.lit(0), 4),
        lambda acc, e: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(3)),
            lambda a, g: a
            + F.when(
                (e["v"] > 0) & ((e["b"] / 16).cast("int") == g),
                F.call_function("shiftleft", F.lit(1), e["b"] % 16),
            ).otherwise(0),
        ),
    )


def simhash_wide_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Hamming near-dup pairs over the 64-bit sketch: distinct
    (id_a < id_b, hamming) with hamming <= ``max_hamming`` summed over
    the four words. Pigeonhole banding on EIGHT 8-bit slices (two bytes
    per word): sketches within Hamming distance 7 must agree on at
    least one byte, so the default is exact. 256 values per slice x 8
    slices spreads n docs over 2048 buckets where the 16-bit variant
    has 64 — the operating range before a cap is needed grows ~32x.

    ``max_bucket_size`` star-emits against the bucket's min-id
    representative above the cap (same contract and caveat as
    ``simhash_near_dup_pairs``): identical-boilerplate clusters
    mega-bucket at ANY sketch width, so the cap defaults ON
    (``DEFAULT_MAX_BUCKET_SIZE``; ``None`` = explicit exact opt-out)."""
    if max_hamming > 7:
        raise ValueError(
            f"max_hamming={max_hamming} breaks exact pigeonhole coverage "
            "(8 byte-slices guarantee distance <= 7)"
        )
    sk = df.select(
        F.col(id_col).alias("id"), simhash_wide(F.col(text_col)).alias("sk")
    )
    slices = sk.select(
        "id",
        "sk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("slice_idx"),
                        F.shiftright(F.element_at(F.col("sk"), s // 2 + 1), 8 * (s % 2))
                        .bitwiseAND(F.lit(255))
                        .alias("slice_val"),
                    )
                    for s in range(8)
                ]
            )
        ).alias("sl"),
    ).select(
        "id", "sk", F.col("sl.slice_idx").alias("slice_idx"), F.col("sl.slice_val").alias("slice_val")
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("_pay_a"), F.col("_pay_b"), lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")
    if max_bucket_size is not None:
        cand = _capped_bucket_pairs(
            slices, ["slice_idx", "slice_val"], max_bucket_size, payload_col="sk"
        )
    else:
        a = slices.select(
            "slice_idx", "slice_val", F.col("id").alias("id_a"), F.col("sk").alias("_pay_a")
        )
        b = slices.select(
            "slice_idx", "slice_val", F.col("id").alias("id_b"), F.col("sk").alias("_pay_b")
        )
        cand = (
            a.join(b, ["slice_idx", "slice_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_pay_a", "_pay_b")
        )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental (re-ingest) dedup: new batch vs a prior corpus snapshot
# ---------------------------------------------------------------------------


def incremental_dedup(
    new_batch: DataFrame,
    prior: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Classify each new-batch document against an already-curated
    corpus snapshot — the realest 100 TB pipeline shape: the corpus is
    deduped ONCE, then every re-ingest dedups only the delta against
    stored fingerprints/signatures instead of re-running dedup over
    corpus+delta (O(delta), not O(corpus), per ingest).

    Output, one row per new-batch doc:
      (doc_id, exact_dup_prior, near_dup_prior, exact_dup_batch, keep)
    flags as 0/1 ints. ``keep`` = novel vs prior (exact AND near) and
    the min-id keeper of its fingerprint within the batch.

    Scale shape: the prior side collapses to two snapshot tables — the
    distinct fingerprint set and the distinct (band, signature) set —
    both tiny relative to the corpus text. Here they are derived inline
    from ``prior``; production stores them as parquet via
    ``write_dedup_snapshot`` and re-ingests classify against the files
    (``incremental_dedup_against_snapshot``) with no re-hash of prior
    text. All three checks are equi-joins on hash keys: fingerprint,
    (band, signature), fingerprint again for the in-batch keeper
    window. Never all-pairs; skewed boilerplate buckets inherit AQE
    skew splitting like ``lsh_candidate_pairs``.
    """
    normed = F.trim(F.regexp_replace(F.lower(F.col(text_col)), _WS, " "))
    prior_fp = prior.select(F.md5(normed).alias("fp")).distinct()
    prior_sig = (
        minhash_signatures(prior, id_col, text_col, n_bands, shingle_k)
        .select("band", "signature")
        .distinct()
    )
    return _classify_against_prior(
        new_batch, prior_fp, prior_sig, id_col, text_col, n_bands, shingle_k
    )


def _classify_against_prior(
    new_batch: DataFrame,
    prior_fp: DataFrame,
    prior_sig: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int,
    shingle_k: int,
) -> DataFrame:
    """Shared classify core: new batch vs (fingerprint set, signature
    set) — however those two tables were obtained (inline or parquet
    snapshot). Both prior tables are defensively made distinct: a
    duplicate key on the left join's build side would FAN OUT the
    new-batch rows."""
    from pyspark.sql import Window

    prior_fp = prior_fp.distinct()
    prior_sig = prior_sig.distinct()
    normed = F.trim(F.regexp_replace(F.lower(F.col(text_col)), _WS, " "))
    newb = new_batch.select(F.col(id_col).alias("id"), F.md5(normed).alias("fp"))
    new_sig = minhash_signatures(new_batch, id_col, text_col, n_bands, shingle_k)
    near = new_sig.join(prior_sig, ["band", "signature"]).select("id").distinct()

    w = Window.partitionBy("fp").orderBy("id")
    out = (
        newb.withColumn("_rn", F.row_number().over(w))
        .join(prior_fp.withColumn("_pf", F.lit(1)), "fp", "left")
        .join(near.withColumn("_nd", F.lit(1)), "id", "left")
    )
    exact_prior = F.col("_pf").isNotNull()
    near_prior = F.col("_nd").isNotNull()
    batch_dup = F.col("_rn") > 1
    return out.select(
        F.col("id").alias(id_col),
        exact_prior.cast("int").alias("exact_dup_prior"),
        near_prior.cast("int").alias("near_dup_prior"),
        batch_dup.cast("int").alias("exact_dup_batch"),
        (~exact_prior & ~near_prior & ~batch_dup).cast("int").alias("keep"),
    )


def write_dedup_snapshot(
    corpus: DataFrame,
    path: str,
) -> None:
    """Persist the dedup state of a curated corpus: the distinct
    fingerprint set (``{path}/fingerprints``) and the distinct
    (band, signature) set (``{path}/signatures``) as parquet.

    This is what makes re-ingest O(delta): the snapshot is the ONLY
    thing a future ingest needs from the corpus — hash keys, not text —
    and both tables are bounded by the corpus's distinct content, a few
    bytes per document regardless of document size. Appending a kept
    delta's own fingerprints/signatures back into the snapshot
    (mode="append") keeps it current without ever re-reading corpus
    text."""
    import os

    normed = F.trim(F.regexp_replace(F.lower(F.col("text")), _WS, " "))
    corpus.select(F.md5(normed).alias("fp")).distinct().write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "fingerprints"))
    (
        minhash_signatures(corpus, "doc_id", "text", 4, 3)
        .select("band", "signature")
        .distinct()
        .write.mode("overwrite")
        .parquet(os.path.join(path, "signatures"))
    )


def incremental_dedup_against_snapshot(
    new_batch: DataFrame,
    snapshot_path: str,
) -> DataFrame:
    """``incremental_dedup`` with the prior side read from a
    ``write_dedup_snapshot`` directory instead of derived from prior
    text — the production re-ingest path. The tiny snapshot tables
    broadcast under the default 10 MB threshold for corpora up to
    ~hundreds of thousands of documents; beyond that the joins shuffle
    on the hash key like any other equi-join."""
    import os

    spark = new_batch.sparkSession
    prior_fp = spark.read.parquet(os.path.join(snapshot_path, "fingerprints"))
    prior_sig = spark.read.parquet(os.path.join(snapshot_path, "signatures"))
    return _classify_against_prior(
        new_batch, prior_fp, prior_sig, "doc_id", "text", 4, 3
    )


# ---------------------------------------------------------------------------
# Eval-set contamination check (train/test n-gram overlap)
# ---------------------------------------------------------------------------


def contamination_check(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """For each evaluation document, measure k-gram overlap with the
    training corpus: how many corpus docs share at least one k-gram,
    how many distinct k-grams leak, and the total (doc, gram) pair
    count. The standard pre-training hygiene check (decontamination).

    Shape: both sides explode DISTINCT shingles (word_shingles — same
    convention as minhash: short docs contribute one whole-text gram)
    and equi-join on the gram string — bucketed by gram, never
    all-pairs. Every gram is kept (the oracle-checked semantics).
    """
    ev = eval_set.select(
        F.col(id_col).alias("eval_doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("gram"),
    )
    corp = corpus.select(
        F.col(id_col).alias("corpus_doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("gram"),
    )
    return (
        ev.join(corp, "gram")
        .groupBy("eval_doc_id")
        .agg(
            F.countDistinct("corpus_doc_id").alias("n_contaminating_docs"),
            F.countDistinct("gram").alias("n_shared_ngrams"),
            F.count(F.lit(1)).alias("n_shared_pairs"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_shared_ngrams: int = 1,
) -> DataFrame:
    """The enforcement half of ``contamination_check``: return the
    corpus WITHOUT documents sharing at least ``min_shared_ngrams``
    distinct k-grams with ANY eval document — the standard
    decontamination step before a corpus ships as training data.

    Shape: the eval side collapses to its distinct gram set (small —
    eval suites are tiny next to a training corpus, so the gram join
    broadcasts), corpus docs aggregate their distinct shared-gram count
    in one groupBy, and removal is a left-anti join on the flagged ids —
    the corpus body is scanned once and never shuffled on text."""
    ev_grams = eval_set.select(
        F.explode(word_shingles(F.col(text_col), k)).alias("gram")
    ).distinct()
    corp = corpus.select(
        F.col(id_col).alias("_cid"),
        F.explode(word_shingles(F.col(text_col), k)).alias("gram"),
    )
    flagged = (
        corp.join(ev_grams, "gram")
        .groupBy("_cid")
        .agg(F.countDistinct("gram").alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_shared_ngrams)
        .select(F.col("_cid").alias(id_col))
    )
    return corpus.join(flagged, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Line-level dedup (C4-style: drop boilerplate lines shared across docs)
# ---------------------------------------------------------------------------


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    line_col: str = "line",
    pos_col: str = "pos",
    max_doc_frequency: int = 1,
) -> DataFrame:
    """Remove lines whose document frequency exceeds
    ``max_doc_frequency`` (boilerplate/nav/footer removal a la C4),
    preserving each document's remaining line order. Input is the
    exploded (id, pos, line) table; output is one row per doc with the
    reassembled text plus n_lines/n_kept lineage.

    Shape: one aggregate for global line doc-frequency (map-side
    partial on (line, id) distinct), an anti-join of the exploded lines
    against the over-frequent ones (broadcast when the boilerplate set
    is small — it is, by Zipf), and one groupBy to reassemble. Three
    shuffles total, all on line or id — never all-pairs. Hot lines
    ("home", "") are exactly the rows the anti-join removes, so the
    reassembly shuffle sees the cleaned distribution.
    """
    common = (
        df.groupBy(line_col)
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") > max_doc_frequency)
        .select(line_col)
    )
    kept = df.join(common, line_col, "left_anti")
    total = df.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(pos_col), F.col(line_col)))
                ),
                lambda s: s[line_col],
            ),
            "\n",
        ).alias("text_dedup"),
    )
    return total.join(rebuilt, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Hamming-distance SimHash near-dup: distinct (id_a < id_b) pairs
    whose 16-bit sketches differ in at most ``max_hamming`` bits.

    Pigeonhole banding makes this bucketed, never all-pairs: the 16-bit
    sketch splits into 4 4-bit slices, and two sketches within Hamming
    distance 3 must agree on at least one slice. Candidates come from
    an equi-join on (slice index, slice value); the exact popcount
    filter then removes false candidates. Up to ``max_hamming`` 3 the
    result is EXACT — every qualifying pair shares a slice by
    pigeonhole; a larger ``max_hamming`` is refused, since its recall
    would be approximate.

    Scale shape mirrors ``lsh_candidate_pairs``: one projection for
    the sketch, a 4-row explode, one shuffle on the slice key. The
    popcount is a JVM bit_count on the XOR — no Python.

    ``max_bucket_size`` is the same mega-bucket guard as
    ``lsh_candidate_pairs``: slice buckets above the cap star-emit
    (representative, member) pairs — O(b) instead of O(b²) for a b-doc
    boilerplate cluster — with the hamming distance computed against
    the representative's sketch. Capped emission keeps the exactness
    guarantee only THROUGH the representative: a member whose distance
    to the rep exceeds ``max_hamming`` is dropped from the pair list
    even if some other in-bucket partner was within range (transitive
    closure over the surviving pairs still clusters exact-duplicate
    boilerplate, which is what mega-buckets are in practice). The cap
    defaults ON (``DEFAULT_MAX_BUCKET_SIZE``); ``None`` is the explicit
    opt-out for exact all-pairs emission at oracle/test scale.
    """
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds 3, the most 4 slices cover "
            "exactly by pigeonhole"
        )
    bits_per = 4
    mask = (1 << bits_per) - 1
    sk = df.select(
        F.col(id_col).alias("id"), simhash16(F.col(text_col)).alias("sk")
    )
    slices = sk.select(
        "id",
        "sk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("slice_idx"),
                        F.shiftright(F.col("sk"), s * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("slice_val"),
                    )
                    for s in range(4)
                ]
            )
        ).alias("sl"),
    ).select("id", "sk", F.col("sl.slice_idx").alias("slice_idx"), F.col("sl.slice_val").alias("slice_val"))
    if max_bucket_size is not None:
        return (
            _capped_bucket_pairs(
                slices, ["slice_idx", "slice_val"], max_bucket_size, payload_col="sk"
            )
            .select(
                "id_a",
                "id_b",
                F.bit_count(F.col("_pay_a").bitwiseXOR(F.col("_pay_b"))).alias(
                    "hamming"
                ),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
    a = slices.alias("ha")
    b = slices.alias("hb")
    return (
        a.join(
            b,
            (F.col("ha.slice_idx") == F.col("hb.slice_idx"))
            & (F.col("ha.slice_val") == F.col("hb.slice_val"))
            & (F.col("ha.id") < F.col("hb.id")),
        )
        .select(
            F.col("ha.id").alias("id_a"),
            F.col("hb.id").alias("id_b"),
            F.bit_count(F.col("ha.sk").bitwiseXOR(F.col("hb.sk"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    sketch_col: str,
    n_bits: int = 64,
    max_hamming: int = 7,
    n_slices: int = 8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Generic pigeonhole Hamming near-dup over a PRECOMPUTED bigint
    sketch column — the sketch-agnostic core of
    ``simhash_near_dup_pairs``, exposed for 64-bit fingerprints that
    don't come from text (image pHash, audio fingerprints, any locality
    -sensitive bit signature).

    Same exactness contract: two ``n_bits`` sketches within Hamming
    distance ``n_slices - 1`` must agree on at least one of the
    ``n_slices`` bit-slices, so candidates come from one equi-join on
    (slice index, slice value) and the JVM bit_count(XOR) filter keeps
    the true pairs — never all-pairs. Mega-buckets star-emit through
    the shared ``_capped_bucket_pairs`` guard (cap ON by default).

    Slicing uses shiftrightUNSIGNED so a sketch with bit 63 set (bigint
    negative) slices identically to its unsigned value.
    """
    if max_hamming > n_slices - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_slices>={max_hamming + 1} "
            "for exact pigeonhole coverage"
        )
    if n_bits % n_slices:
        raise ValueError(f"n_slices={n_slices} must divide n_bits={n_bits}")
    bits_per = n_bits // n_slices
    if bits_per > 63:
        # the slice mask (1 << bits_per) - 1 must fit a Spark LongType
        # literal; n_slices=1 (legal pigeonhole-wise when max_hamming=0)
        # would need a 2^64-1 mask that overflows bigint
        raise ValueError(
            f"n_slices={n_slices} gives {bits_per}-bit slices; slice masks "
            "must fit a signed 64-bit literal (need n_slices >= 2 for "
            "n_bits=64)"
        )
    mask = (1 << bits_per) - 1
    sk = df.select(F.col(id_col).alias("id"), F.col(sketch_col).alias("sk"))
    slices = sk.select(
        "id",
        "sk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("slice_idx"),
                        F.shiftrightunsigned(F.col("sk"), s * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("slice_val"),
                    )
                    for s in range(n_slices)
                ]
            )
        ).alias("sl"),
    ).select(
        "id",
        "sk",
        F.col("sl.slice_idx").alias("slice_idx"),
        F.col("sl.slice_val").alias("slice_val"),
    )
    if max_bucket_size is not None:
        return (
            _capped_bucket_pairs(
                slices, ["slice_idx", "slice_val"], max_bucket_size, payload_col="sk"
            )
            .select(
                "id_a",
                "id_b",
                F.bit_count(F.col("_pay_a").bitwiseXOR(F.col("_pay_b"))).alias(
                    "hamming"
                ),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
    a = slices.alias("gha")
    b = slices.alias("ghb")
    return (
        a.join(
            b,
            (F.col("gha.slice_idx") == F.col("ghb.slice_idx"))
            & (F.col("gha.slice_val") == F.col("ghb.slice_val"))
            & (F.col("gha.id") < F.col("ghb.id")),
        )
        .select(
            F.col("gha.id").alias("id_a"),
            F.col("ghb.id").alias("id_b"),
            F.bit_count(F.col("gha.sk").bitwiseXOR(F.col("ghb.sk"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------
#
# Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms for
# Document Fingerprinting" (SIGMOD 2003) — the MOSS algorithm. Where
# ``text.fingerprint`` digests the WHOLE normalized document (only
# byte-identical reflows collide), winnowing selects the minimum
# k-gram hash out of every sliding window of ``window`` consecutive
# k-grams, guaranteeing that any shared substring of at least
# k + window - 1 tokens contributes at least one COMMON fingerprint to
# both documents — local, position-robust overlap detection (partial
# plagiarism, quoted passages, template reuse), which whole-doc hashing
# and set-Jaccard both miss.


def _positional_kgrams(text: Column | str, k: int = 3) -> Column:
    """Ordered k-token grams (duplicates KEPT, positions preserved) —
    winnowing needs the gram *sequence*, unlike ``word_shingles``'s
    distinct set. Same zip_with-over-shifted-views spelling (no
    per-gram slice allocation); documents shorter than k tokens yield
    one gram of all their tokens, empty documents none."""
    c = F.col(text) if isinstance(text, str) else text
    w = _words(c)
    n = F.size(w)
    sh = w
    for i in range(1, k):
        shifted = F.slice(w, i + 1, F.greatest(n - i, F.lit(1)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    sh = F.filter(sh, lambda x: x.isNotNull())
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.concat_ws(" ", w)))
        .otherwise(sh)
    )


# Winnowing: WINNOW_K-word grams, the minimum hash of each window of
# WINNOW_WINDOW consecutive grams.
WINNOW_K = 3
WINNOW_WINDOW = 4


def winnow_fingerprint_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, fps) — per-document sorted distinct winnowing fingerprints
    (8-hex md5 slices, the engine-portable hash family used by the
    minhash bands).

    Selection rule: the minimum hash of each window; with fewer than
    ``WINNOW_WINDOW`` grams the single fingerprint is the global minimum (the
    paper's degenerate case). Lexicographic min over fixed-width hex is
    a uniform order, so the density guarantee (expected 2/(window+1)
    of grams selected) holds.

    Plan shape: TWO stacked projections, zero shuffles. The gram
    hashes are materialized as a concrete attribute in the first
    projection, because the sliding-min spelling references the hash
    array ``WINNOW_WINDOW`` times — Catalyst performs no cross-expression CSE
    (the round-3 simhash lesson), so referencing an expression that
    many times would re-digest every gram that many times; referencing
    an attribute is free. The sliding min itself is zip_with over
    shifted views with explicit null propagation (``least`` skips
    nulls, which would silently admit partial trailing windows).
    """
    hashed = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],  # e.g. the streaming event time
        F.transform(
            _positional_kgrams(F.col(text_col), WINNOW_K),
            lambda g: F.substring(F.md5(g), 1, 8),
        ).alias("_hs"),
    )
    hs = F.col("_hs")
    m = F.size(hs)
    mins = hs
    for i in range(1, WINNOW_WINDOW):
        shifted = F.slice(hs, i + 1, F.greatest(m - i, F.lit(1)))
        mins = F.zip_with(
            mins,
            shifted,
            lambda a, b: F.when(b.isNull(), F.lit(None).cast("string")).otherwise(
                F.least(a, b)
            ),
        )
    full_windows = F.filter(mins, lambda x: x.isNotNull())
    selected = (
        F.when(m == 0, F.array().cast("array<string>"))
        .when(m < WINNOW_WINDOW, F.array(F.array_min(hs)))
        .otherwise(full_windows)
    )
    return hashed.select(
        "id", *extra_cols, F.array_sort(F.array_distinct(selected)).alias("fps")
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints,
    with containment = shared / min(|fps_a|, |fps_b|) — the
    local-overlap near-dup detector (catches a page quoting one
    paragraph of another, which document-level Jaccard dilutes away).

    Plan: explode the fingerprint sets to long form (fp, id), one
    shuffle to bucket by fp, self-join inside buckets, then a pair-key
    aggregation. At corpus scale a stop-fingerprint (ubiquitous
    boilerplate gram) would make one bucket quadratic, so
    ``max_bucket_size`` (default ON) applies the shared mega-bucket
    star-emission guard with the per-doc set size riding along as the
    emitter payload — the output schema is IDENTICAL in both modes,
    and for corpora whose fp buckets all fit under the cap the capped
    result EQUALS the exact one row-for-row. Above the cap, a member's
    ``n_shared`` counts fingerprints shared with the bucket
    REPRESENTATIVE (min id) rather than with every partner — O(b)
    pairs per boilerplate cluster instead of O(b²), with transitive
    closure (``dedup_clusters``) recovering full cluster membership.
    ``None`` = exact all-pairs emission (oracle/test scale only).
    """
    sets_ = winnow_fingerprint_sets(df, id_col, text_col).filter(
        F.size("fps") > 0
    )
    long = sets_.select("id", F.size("fps").alias("_n_fps"), F.explode("fps").alias("fp"))
    if max_bucket_size is not None:
        cand = _capped_bucket_pairs(
            long, ["fp"], max_bucket_size, payload_col="_n_fps"
        ).select(
            "id_a", "id_b", F.col("_pay_a").alias("_na"), F.col("_pay_b").alias("_nb")
        )
    else:
        # materialize the exploded long frame ONCE before the exact
        # self-join (r12): each join side otherwise re-executes the
        # whole fingerprint subtree (two md5-heavy projections + the
        # sliding-min folds + the explode) — the plan showed 2 scans +
        # 2 Generate chains for one logical subtree. Narrow rows
        # (id, int, 8-hex fp) by construction.
        long = long.localCheckpoint(eager=True)
        a = long.alias("wa")
        b = long.alias("wb")
        cand = a.join(
            b,
            (F.col("wa.fp") == F.col("wb.fp")) & (F.col("wa.id") < F.col("wb.id")),
        ).select(
            F.col("wa.id").alias("id_a"),
            F.col("wb.id").alias("id_b"),
            # per-doc set sizes ride the long rows — grouping keys, not
            # a second join back to the set table
            F.col("wa._n_fps").alias("_na"),
            F.col("wb._n_fps").alias("_nb"),
        )
    return (
        cand.groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least(F.col("_na"), F.col("_nb")), 6
            ).alias("containment"),
        )
    )


# --- Exact substring (repeated n-gram span) deduplication --------------------
# The "exact substring dedup" of large-scale training-data pipelines
# (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better" — there via parallel suffix arrays): any word n-gram that
# occurs more than once corpus-wide keeps only its FIRST occurrence
# (global (doc_id, position) order); every other occurrence is a
# repeated span to scrub. Spark shape: positional n-grams -> ONE
# shuffle on the gram digest -> broadcast-sized? no — first-occurrence
# agg is gram-keyed (map-side combine), repeats anti-select, then a
# per-doc window merges overlapping spans into islands. No suffix
# array needed for fixed n: the n-gram table IS the length-n suffix
# set, and longer shared substrings surface as runs of overlapping
# repeated n-grams that the interval merge coalesces — the standard
# distributed approximation of the suffix-array method.


def repeated_ngram_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """(id, start, end) word-index spans [start, end) covering every
    NON-FIRST occurrence of any corpus-repeated word n-gram. First
    occurrence = minimum (doc_id, position); the digest (md5) is the
    shuffle key so the exchange carries fixed-width keys, not n-word
    strings.

    ONE pass via a gram-keyed window: the groupBy(first)+join-back
    spelling re-executes the explode+digest on both crossJoin-style
    branches (Spark shares no subtree results across branches — the
    tfidf lesson) and adds a join shuffle; the window computes
    min/count over each gram partition in the single exchange.
    Measured 2.2x at sf1 forced (44 -> 19 s, hash-identical;
    BASELINE.md round-5). xxhash64 as the key A/B'd within noise —
    md5 stays for oracle-replicable semantics everywhere."""
    from pyspark.sql import Window

    grams = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_positional_kgrams(F.col(text_col), n)).alias("pos", "gram"),
    ).select("id", "pos", F.md5("gram").alias("gh"))
    # order key: struct min is lexicographic (id, pos) — safe for any
    # id range (full xxhash64 doc_ids) and >=1M-token documents, where
    # an arithmetic id*K+pos packing would overflow or collide
    occ = grams.withColumn("okey", F.struct(F.col("id"), F.col("pos")))
    w = Window.partitionBy("gh")
    marked = occ.select(
        "id",
        "pos",
        "okey",
        F.min("okey").over(w).alias("first_okey"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    return (
        marked.filter((F.col("cnt") >= 2) & (F.col("okey") != F.col("first_okey")))
        .select("id", F.col("pos").alias("start"), (F.col("pos") + n).alias("end"))
    )


def substring_dedup_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Per-document scrub accounting: (id, n_tokens, n_repeat_islands,
    tokens_removed, tokens_remaining) where islands are the merged
    overlapping repeated spans (a shared substring longer than n shows
    up as consecutive overlapping n-grams — one island). Docs with no
    repeats (or < n words) report zeros. One gram shuffle + one
    doc-keyed window + one aggregation."""
    from pyspark.sql import Window

    spans = repeated_ngram_spans(df, id_col, text_col, n)
    w = Window.partitionBy("id").orderBy("start", "end")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = spans.withColumn(
        "new_island",
        F.when(F.col("start") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = flagged.groupBy("id", "island").agg(
        F.min("start").alias("i_start"), F.max("end").alias("i_end")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(_words(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    # a doc shorter than n contributes ONE whole-text gram whose span
    # nominally ends at n — clamp islands to the real token count
    per_doc = (
        islands.join(base, "id")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_repeat_islands"),
            F.sum(
                F.least(F.col("i_end"), F.col("n_tokens")) - F.col("i_start")
            ).alias("tokens_removed"),
        )
    )
    return base.join(per_doc, "id", "left").select(
        "id",
        "n_tokens",
        F.coalesce("n_repeat_islands", F.lit(0)).cast("bigint").alias("n_repeat_islands"),
        F.coalesce("tokens_removed", F.lit(0)).cast("bigint").alias("tokens_removed"),
        (F.col("n_tokens") - F.coalesce("tokens_removed", F.lit(0))).cast("bigint").alias(
            "tokens_remaining"
        ),
    )
