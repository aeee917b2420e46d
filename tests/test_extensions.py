"""Streaming, clustering, and ML extension tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from magicxml_spark.analytics.clusters import dedup_clusters
from magicxml_spark.analytics.ml import pca_project, tfidf_vectors
from magicxml_spark.streaming.events import run_stream_to_memory
from magicxml_spark.tables import table
from tests.conftest import SF_SMOKE


def test_stream_equals_batch(spark):
    """The streaming windowed aggregation must agree with its batch
    twin — same logical plan, driven via availableNow + memory sink."""
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in run_stream_to_memory(spark, SF_SMOKE).collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    batch = {
        (r["ws"], r["event_type"]): (r["n"], r["tv"])
        for r in ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    }
    assert streamed == batch


def test_dedup_clusters_small_graph(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    # components: {1,2,3,4} (chain + cycle), {5,6}, {7} isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 2), (5, 6)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(nodes, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}
    # the iterative label-propagation path (taken above the single-task
    # threshold) must produce the identical labeling
    iterative = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(nodes, pairs, local_solve_edges=0).collect()
    }
    assert iterative == got


def test_tfidf_pca_shapes(spark):
    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(50)
    vecs = tfidf_vectors(docs)
    assert "tfidf" in vecs.columns
    proj = pca_project(vecs, k=3)
    from pyspark.ml.functions import vector_to_array

    arr = proj.select(F.size(vector_to_array("pca")).alias("d")).distinct().collect()
    assert [r["d"] for r in arr] == [3]
    # PCA(3) captures nonzero variance: projections aren't all zero
    norms = proj.select(
        F.aggregate(
            vector_to_array("pca"), F.lit(0.0), lambda s, x: s + x * x
        ).alias("n2")
    ).agg(F.sum("n2")).collect()[0][0]
    assert norms and norms > 0


def test_ivf_recall_vs_bruteforce(spark):
    from magicxml_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r["vec_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["vec_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(
            emb, "vec_id", "embedding", k=5, n_cells=8, n_probe=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random 64-d data is near-orthogonal (hard case); the probe-2/8-cell
    # setting must still beat the ~probe-share baseline decisively
    assert recall > 0.45, recall


def test_ivf_sampled_fit_path(spark):
    # fit_sample_rows below the table size forces the deterministic
    # hash-sample branch (the 100 TB path: centroids train on a subset,
    # assignment still covers every row).
    from magicxml_spark.operators.similarity import cosine_topk_ivf

    emb = table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    out = cosine_topk_ivf(
        emb, "vec_id", "embedding", k=5, n_cells=8, n_probe=8,
        fit_sample_rows=max(32, n // 4),
    )
    rows = out.collect()
    # n_probe == n_cells makes the search exact regardless of centroid
    # quality: every query must still get its full k neighbors
    per_query = {}
    for r in rows:
        per_query.setdefault(r["vec_id"], 0)
        per_query[r["vec_id"]] += 1
    assert len(per_query) == n
    assert set(per_query.values()) == {5}


def test_blank_documents_excluded_from_dedup(spark):
    """Blank/whitespace docs must produce no shingles, no LSH pairs, and
    no jaccard rows — matching the SQL oracles' semantics."""
    from magicxml_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text here"), (4, "real text here")],
        "doc_id bigint, text string",
    )
    sh = docs.select(F.size(word_shingles(F.col("text"))).alias("n")).collect()
    assert [r["n"] for r in sh] == [0, 0, 1, 1]
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    assert [tuple(r) for r in pairs.collect()] == [(3, 4)]  # not (1,2)
    jac = jaccard_pairs(
        docs,
        spark.createDataFrame([(1, 2), (3, 4)], "id_a bigint, id_b bigint"),
        "doc_id",
        "text",
        shingle_k=1,
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac.collect()}
    assert got == {(3, 4): 1.0}  # blank pair dropped entirely


def test_blocked_topk_equals_bruteforce_no_collect(spark, monkeypatch):
    """cosine_topk_blocked must (a) reproduce the broadcast brute-force
    results exactly and (b) never pull a DataFrame through the driver —
    the round-2 scale fix for the oracle-checked ANN entries."""
    from pyspark.sql import DataFrame

    from magicxml_spark.operators.similarity import (
        cosine_topk_blocked,
        cosine_topk_bruteforce,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    expected = {
        (r["vec_id"], r["neighbor_id"], r["rank"], r["sim"])
        for r in cosine_topk_bruteforce(emb, "vec_id", "embedding", k=5).collect()
    }

    def _no_driver_collect(self, *a, **k):
        raise AssertionError("driver-side toPandas in blocked ANN path")

    monkeypatch.setattr(DataFrame, "toPandas", _no_driver_collect)
    # small block_rows forces a real multi-cell grid even at smoke SF
    got_df = cosine_topk_blocked(emb, "vec_id", "embedding", k=5, block_rows=16)
    got = {
        (r["vec_id"], r["neighbor_id"], r["rank"], r["sim"])
        for r in got_df.collect()
    }
    assert got == expected


def test_blocked_near_dup_equals_broadcast(spark, monkeypatch):
    from pyspark.sql import DataFrame

    from magicxml_spark.operators.similarity import (
        embedding_near_dup,
        embedding_near_dup_blocked,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    expected = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in embedding_near_dup(emb, "vec_id", "embedding", threshold=0.4).collect()
    }
    monkeypatch.setattr(
        DataFrame,
        "toPandas",
        lambda self, *a, **k: (_ for _ in ()).throw(
            AssertionError("driver-side toPandas in blocked near-dup path")
        ),
    )
    got_df = embedding_near_dup_blocked(
        emb, "vec_id", "embedding", threshold=0.4, block_rows=16
    )
    got = {(r["id_a"], r["id_b"], r["sim"]) for r in got_df.collect()}
    assert expected and got == expected


def test_bruteforce_index_guard_raises_toward_blocked(spark):
    """The broadcast-index bruteforce variants collect the whole index
    side to the driver — a bounded-catalog contract (SCALING.md). The
    max_index_rows guard (VERDICT r5 #2, same shape as asof's
    max_compiled_intervals) must raise past the cap and point at the
    blocked variants, and stay silent under it."""
    import pytest

    from magicxml_spark.operators.similarity import (
        cosine_topk_bruteforce,
        embedding_near_dup,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    with pytest.raises(ValueError, match="cosine_topk_blocked"):
        cosine_topk_bruteforce(emb, "vec_id", "embedding", k=3, max_index_rows=5)
    with pytest.raises(ValueError, match="embedding_near_dup_blocked"):
        embedding_near_dup(emb, "vec_id", "embedding", max_index_rows=5)
    # under the cap: identical results to the unguarded call
    assert (
        cosine_topk_bruteforce(
            emb, "vec_id", "embedding", k=3, max_index_rows=1_000_000
        ).count()
        > 0
    )


def test_interval_lookup_join_rejects_column_collisions(spark):
    """interval_lookup_join attaches dimension columns via withColumn;
    a fact column with the same name would be silently OVERWRITTEN
    where the BNLJ it replaces keeps both — must raise instead."""
    import pytest

    from magicxml_spark.operators.asof import interval_lookup_join

    facts = spark.createDataFrame(
        [(1, 5.0, "keep-me")], "k bigint, v double, tier string"
    )
    dim = [{"lo": 0.0, "hi": 10.0, "tier": "low"}]
    with pytest.raises(ValueError, match="collide"):
        interval_lookup_join(facts, dim, value_col="v")
    # non-colliding dimension still works
    ok = interval_lookup_join(
        facts.drop("tier"), dim, value_col="v"
    ).collect()
    assert ok[0]["tier"] == "low"


def test_lsh_recall_floor(spark):
    """Hard gate for the multi-table LSH path: recall@5 vs the exact
    blocked top-k must stay above the recorded floor (BASELINE.md
    records 0.86 at sf0.01 / 0.89 at sf0.1 for 3 planes x 8 tables)."""
    from magicxml_spark.operators.similarity import (
        cosine_topk_blocked,
        cosine_topk_lsh,
        topk_recall,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    exact = cosine_topk_blocked(emb, "vec_id", "embedding", k=5)
    lsh = cosine_topk_lsh(
        emb, "vec_id", "embedding", k=5, dim=64, n_planes=3, n_tables=8
    )
    r = topk_recall(lsh, exact).collect()[0]
    assert r["n_exact_pairs"] == r["n_queries"] * 5
    assert r["recall"] > 0.75, r["recall"]


def test_ann_dispatch_cost_model():
    """choose_ann_strategy boundaries: exact below the measured
    crossover, IVF with sqrt-scaled clamped cells above it."""
    from magicxml_spark.operators.similarity import (
        ANN_EXACT_MAX_ROWS,
        choose_ann_strategy,
    )

    assert choose_ann_strategy(2_000)["algo"] == "exact"
    assert choose_ann_strategy(ANN_EXACT_MAX_ROWS)["algo"] == "exact"
    big = choose_ann_strategy(ANN_EXACT_MAX_ROWS + 1)
    assert big["algo"] == "ivf"
    assert big["n_probe"] >= 1
    # sqrt scaling with floor and ceiling
    assert choose_ann_strategy(1_000_000)["n_cells"] == 1000
    assert choose_ann_strategy(200_000)["n_cells"] >= 16
    assert choose_ann_strategy(10**12)["n_cells"] == 32768
    # the boundary is a knob: forcing it low flips small corpora to IVF
    assert choose_ann_strategy(2_000, exact_max_rows=100)["algo"] == "ivf"


def test_ann_dispatch_facade_backends(spark):
    """cosine_topk must equal the blocked-exact backend at smoke scale
    (it is below the crossover)."""
    from magicxml_spark.operators.similarity import cosine_topk, cosine_topk_blocked

    emb = table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r["vec_id"], r["neighbor_id"], r["rank"], r["sim"])
        for r in cosine_topk_blocked(emb, "vec_id", "embedding", k=5).collect()
    }
    auto = {
        (r["vec_id"], r["neighbor_id"], r["rank"], r["sim"])
        for r in cosine_topk(emb, "vec_id", "embedding", k=5).collect()
    }
    assert auto == exact


def test_ivf_snapshot_search_exact_at_full_probe(spark, tmp_path):
    """Incremental ANN: index prior corpus once, search the delta
    against the snapshot. With n_probe = n_cells the search is exact —
    must equal the numpy cross brute-force including tie-break — and a
    partial probe keeps a sane recall floor."""
    import numpy as np

    from magicxml_spark.operators.similarity import (
        search_ivf_snapshot,
        write_ivf_snapshot,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    prior = emb.filter(F.col("vec_id") % 10 < 8)
    delta = emb.filter(F.col("vec_id") % 10 >= 8)

    snap = str(tmp_path / "ivf")
    write_ivf_snapshot(prior, snap, n_cells=8)

    got = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in search_ivf_snapshot(delta, snap, k=5, n_probe=8).collect()
    }

    def mat(df):
        rows = df.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        m = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
        return ids, m / np.linalg.norm(m, axis=1, keepdims=True)

    pid, pm = mat(prior)
    did, dm = mat(delta)
    sims = dm @ pm.T
    expected = {}
    for i, qid in enumerate(did):
        order = np.lexsort((pid, -sims[i]))[:5]
        for rank, j in enumerate(order, 1):
            expected[(qid, rank)] = pid[j]
    assert got == expected

    # partial probe: approximate but useful (same gate shape as q_ann_recall)
    part = {
        (r["vec_id"], r["neighbor_id"])
        for r in search_ivf_snapshot(delta, snap, k=5, n_probe=2).collect()
    }
    exact_pairs = {(q, n) for (q, _), n in expected.items()}
    recall = len(part & exact_pairs) / len(exact_pairs)
    assert recall > 0.3, recall


def test_ivf_snapshot_append_and_balance(spark, tmp_path):
    """Index prior, search delta2 at full probe — must equal the numpy
    cross brute-force against prior. Balance monitor reports sane
    stats."""
    import numpy as np

    from magicxml_spark.operators.similarity import (
        ivf_snapshot_balance,
        search_ivf_snapshot,
        write_ivf_snapshot,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    prior = emb.filter(F.col("vec_id") % 10 < 6)
    delta2 = emb.filter(F.col("vec_id") % 10 >= 8)

    snap = str(tmp_path / "ivf_app")
    write_ivf_snapshot(prior, snap, n_cells=8)

    got = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in search_ivf_snapshot(delta2, snap, k=5, n_probe=8).collect()
    }

    def mat(df):
        rows = df.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        m = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
        return ids, m / np.linalg.norm(m, axis=1, keepdims=True)

    pid, pm = mat(prior)
    did, dm = mat(delta2)
    sims = dm @ pm.T
    expected = {}
    for i, qid in enumerate(did):
        order = np.lexsort((pid, -sims[i]))[:5]
        for rank, j in enumerate(order, 1):
            expected[(qid, rank)] = pid[j]
    assert got == expected

    bal = ivf_snapshot_balance(spark, snap).collect()[0]
    assert bal["n_vectors"] == prior.count()
    assert bal["n_cells_total"] == 8
    assert 1 <= bal["n_cells_used"] <= 8
    assert bal["balance_ratio"] >= 1.0
    assert bal["max_cell_rows"] <= bal["n_vectors"]
    # Ratio is anchored to the FITTED cell count, not the used count:
    # total concentration must read as n_cells_total, never 1.0.
    assert bal["balance_ratio"] == round(
        bal["max_cell_rows"] / (bal["n_vectors"] / bal["n_cells_total"]), 4
    )
    if bal["n_cells_used"] < bal["n_cells_total"]:
        assert bal["balance_ratio"] > 1.0


def test_probe_cells_join_path_equals_literal(spark, tmp_path, monkeypatch):
    """with_probe_cells must pick identical probe cells through both
    physical plans: the literal-compiled expression (few centroids) and
    the broadcast-join + window path (many centroids). Setting
    MAX_LITERAL_PROBE_CELLS to 0 routes the same centroids through the
    join path; probe sets must match exactly, and the end-to-end
    snapshot search must stay exact through the join path too."""
    from magicxml_spark.operators.similarity import (
        _with_norm,
        search_ivf_snapshot,
        with_probe_cells,
        write_ivf_snapshot,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    base = _with_norm(emb, "vec_id", "embedding")
    centroids = [
        [float((i * 37 + j * 11) % 13 - 6) for j in range(64)] for i in range(8)
    ]
    lit_rows = {
        (r["id"], r["cell"])
        for r in with_probe_cells(base, centroids, 3).collect()
    }
    import magicxml_spark.operators.similarity as sim_mod

    with monkeypatch.context() as m:
        m.setattr(sim_mod, "MAX_LITERAL_PROBE_CELLS", 0)  # read at call time
        join_rows = {
            (r["id"], r["cell"])
            for r in with_probe_cells(base, centroids, 3).collect()
        }
    assert lit_rows == join_rows and len(lit_rows) > 0

    # end-to-end through the join path: exact at full probe
    prior = emb.filter(F.col("vec_id") % 10 < 8)
    delta = emb.filter(F.col("vec_id") % 10 >= 8)
    snap = str(tmp_path / "ivf_join")
    write_ivf_snapshot(prior, snap, n_cells=8)
    old_cap = sim_mod.MAX_LITERAL_PROBE_CELLS
    try:
        sim_mod.MAX_LITERAL_PROBE_CELLS = 0  # read at call time
        got = {
            (r["vec_id"], r["rank"], r["neighbor_id"])
            for r in search_ivf_snapshot(delta, snap, k=5, n_probe=8).collect()
        }
    finally:
        sim_mod.MAX_LITERAL_PROBE_CELLS = old_cap
    exact = {
        (r["vec_id"], r["rank"], r["neighbor_id"])
        for r in search_ivf_snapshot(delta, snap, k=5, n_probe=8).collect()
    }
    assert got == exact and len(got) > 0


def test_simhash_near_dup_exact_vs_bruteforce(spark):
    """Pigeonhole exactness: the bit-sliced banded join must find
    EVERY pair within Hamming<=3 — verified against the all-pairs
    popcount over collected sketches at smoke scale."""
    from itertools import combinations

    from magicxml_spark.operators.dedup import simhash16, simhash_near_dup_pairs

    import pytest as _pytest

    docs = table(spark, SF_SMOKE, "documents")
    sk = {
        r["doc_id"]: r["sk"]
        for r in docs.select("doc_id", simhash16(F.col("text")).alias("sk")).collect()
    }
    expected = {
        (a, b, bin(sk[a] ^ sk[b]).count("1"))
        for a, b in combinations(sorted(sk), 2)
        if bin(sk[a] ^ sk[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs(
            docs, "doc_id", "text", max_hamming=3, max_bucket_size=None
        ).collect()  # exact recall assertion -> uncapped pin
    }
    assert got == expected and len(got) > 0

    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, max_hamming=4)


def test_batch_lsh_mega_bucket_cap_star_emission(spark):
    """The batch mega-bucket guard: a boilerplate cluster of b identical
    docs must emit O(b) star pairs under the cap instead of C(b,2), and
    the transitive closure over the capped pairs must produce the SAME
    cluster membership (hence the same min-id keeper set) as the exact
    all-pairs emission."""
    from magicxml_spark.analytics.clusters import dedup_clusters
    from magicxml_spark.operators.dedup import lsh_candidate_pairs

    n, cap = 40, 5
    rows = [(i, "the very same boilerplate footer text") for i in range(n)]
    # plus one unrelated pair of near-identical docs in a small bucket
    rows += [(100, "a unique document about gardening tips"),
             (101, "a unique document about gardening tips")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    exact = lsh_candidate_pairs(docs, "doc_id", "text")
    capped = lsh_candidate_pairs(docs, "doc_id", "text", max_bucket_size=cap)
    n_exact = exact.count()
    n_capped = capped.count()
    # exact: C(40,2) + 1 pairs; capped: 39 star pairs + 1 small-bucket pair
    assert n_exact == n * (n - 1) // 2 + 1
    assert n_capped == (n - 1) + 1
    # every capped pair is a subset of the exact candidate set
    assert capped.join(exact, ["id_a", "id_b"], "left_anti").count() == 0

    nodes = docs.select(F.col("doc_id").alias("id"))
    exact_clusters = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(nodes, exact).collect()
    }
    capped_clusters = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(nodes, capped).collect()
    }
    assert capped_clusters == exact_clusters
    # keeper per cluster (min id) unchanged
    assert {min(i for i, c in capped_clusters.items() if c == cl)
            for cl in set(capped_clusters.values())} == \
           {min(i for i, c in exact_clusters.items() if c == cl)
            for cl in set(exact_clusters.values())}


def test_batch_simhash_mega_bucket_cap_star_emission(spark):
    """Same guard on the bit-sliced SimHash path: identical sketches in
    a mega slice-bucket star-emit against the min-id representative
    (hamming 0), O(b) pairs, identical transitive clusters."""
    from magicxml_spark.analytics.clusters import dedup_clusters
    from magicxml_spark.operators.dedup import simhash_near_dup_pairs

    n, cap = 30, 4
    rows = [(i, "repeated boilerplate navigation header links") for i in range(n)]
    rows += [(200, "completely different content about astronomy"),
             (201, "completely different content about astronomy")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    exact = simhash_near_dup_pairs(docs)
    capped = simhash_near_dup_pairs(docs, max_bucket_size=cap)
    assert exact.count() == n * (n - 1) // 2 + 1
    assert capped.count() == (n - 1) + 1
    # star pairs anchor on the min-id representative with hamming 0
    star = capped.filter(F.col("id_b") < 100).collect()
    assert all(r["id_a"] == 0 and r["hamming"] == 0 for r in star)

    nodes = docs.select(F.col("doc_id").alias("id"))
    pairs_cols = ["id_a", "id_b"]
    exact_clusters = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(nodes, exact.select(*pairs_cols)).collect()
    }
    capped_clusters = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(nodes, capped.select(*pairs_cols)).collect()
    }
    assert capped_clusters == exact_clusters


def test_ivf_snapshot_refit_policy(spark, tmp_path):
    """The index's maintenance decision: a healthy index reports action
    'none' at a loose balance cap; at a cap every index trips (the
    balance ratio is >= 1 by construction) it reports 'refit' with
    sqrt(n) target cells, and reading the decision leaves the index as
    it was."""
    from magicxml_spark.operators.similarity import (
        ivf_snapshot_balance,
        maybe_refit_ivf_snapshot,
        write_ivf_snapshot,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    prior = emb.filter(F.col("vec_id") % 10 < 6)
    snap = str(tmp_path / "ivf_refit")
    write_ivf_snapshot(prior, snap, n_cells=16)
    before = ivf_snapshot_balance(spark, snap).collect()[0]

    healthy = maybe_refit_ivf_snapshot(spark, snap, max_balance_ratio=50.0)
    assert healthy["action"] == "none"
    assert healthy["n_cells_total"] == 16

    out = maybe_refit_ivf_snapshot(spark, snap, max_balance_ratio=1.0)
    assert out["action"] == "refit"
    n_total = prior.count()
    assert out["n_vectors"] == n_total
    assert out["target_cells"] == max(16, min(32768, int(n_total**0.5)))
    assert ivf_snapshot_balance(spark, snap).collect()[0] == before


def test_simhash_wide_exactness_and_word0_identity(spark):
    """The 64-bit sketch's first word is the same md5 hex slice as
    simhash16 (word g carves hex [1+4g, 4+4g] of one digest), so w0
    must equal the 16-bit sketch doc-for-doc. The 8-byte-slice banded
    join must find EVERY pair within Hamming<=7 over the four words —
    verified against all-pairs popcount at smoke scale."""
    from itertools import combinations

    from magicxml_spark.operators.dedup import (
        simhash16,
        simhash_wide,
        simhash_wide_near_dup_pairs,
    )

    docs = table(spark, SF_SMOKE, "documents")
    rows = docs.select(
        "doc_id",
        simhash16(F.col("text")).alias("s16"),
        simhash_wide(F.col("text")).alias("sw"),
    ).collect()
    assert all(r["sw"][0] == r["s16"] for r in rows) and len(rows) > 0

    sk = {r["doc_id"]: r["sw"] for r in rows}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    expected = {
        (a, b, ham(sk[a], sk[b]))
        for a, b in combinations(sorted(sk), 2)
        if ham(sk[a], sk[b]) <= 7
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_wide_near_dup_pairs(
            docs, "doc_id", "text", max_bucket_size=None
        ).collect()  # exact recall assertion -> uncapped pin
    }
    assert got == expected and len(got) > 0

    with pytest.raises(ValueError):
        simhash_wide_near_dup_pairs(docs, max_hamming=8)


def test_simhash_wide_mega_bucket_cap(spark):
    """Identical-boilerplate clusters mega-bucket at any sketch width:
    the wide emitter's cap star-emits O(b) pairs against the min-id
    representative (hamming 0), subset of the exact pair set."""
    from magicxml_spark.operators.dedup import simhash_wide_near_dup_pairs

    n, cap = 30, 4
    rows = [(i, "repeated boilerplate navigation header links") for i in range(n)]
    rows += [(200, "completely different content about astronomy"),
             (201, "completely different content about astronomy")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    exact = simhash_wide_near_dup_pairs(docs)
    capped = simhash_wide_near_dup_pairs(docs, max_bucket_size=cap)
    assert exact.count() == n * (n - 1) // 2 + 1
    assert capped.count() == (n - 1) + 1
    star = capped.filter(F.col("id_b") < 100).collect()
    assert all(r["id_a"] == 0 and r["hamming"] == 0 for r in star)
    assert capped.join(exact, ["id_a", "id_b"], "left_anti").count() == 0


# ---------------------------------------------------------------------------
# Winnowing fingerprints
# ---------------------------------------------------------------------------


def _ref_winnow(text: str, k: int = 3, w: int = 4) -> list[str]:
    """Independent pure-Python winnowing (SIGMOD'03 selection rule as
    implemented: min hash per window, distinct, sorted)."""
    import hashlib

    toks = [t for t in text.lower().split() if t]
    if not toks:
        return []
    if len(toks) < k:
        grams = [" ".join(toks)]
    else:
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [hashlib.md5(g.encode()).hexdigest()[:8] for g in grams]
    if len(hs) < w:
        sel = {min(hs)}
    else:
        sel = {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
    return sorted(sel)


def test_winnow_matches_reference_implementation(spark):
    """Spark winnowing == an independent Python reimplementation on
    varied docs (long prose, exactly-window-sized, shorter-than-k,
    empty, repeated tokens)."""
    from magicxml_spark.operators.dedup import winnow_fingerprint_sets

    texts = [
        "the quick brown fox jumps over the lazy dog and runs far away today",
        "a b c d e f",      # 4 grams == exactly one full window
        "one two",           # shorter than k -> single whole-doc gram
        "",                  # empty -> no fingerprints
        "spam spam spam spam spam spam spam spam",  # degenerate repeats
        "Mixed CASE Tokens  with   extra    whitespace runs between them",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {
        r["id"]: list(r["fps"])
        for r in winnow_fingerprint_sets(docs, "doc_id", "text").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_winnow(t), f"doc {i}"


def test_winnow_shared_substring_guarantee(spark):
    """The winnowing guarantee: documents sharing a run of at least
    k + window - 1 = 6 tokens must share at least one fingerprint —
    regardless of the differing text around the run."""
    from magicxml_spark.operators.dedup import winnow_fingerprint_sets

    common = "shared passage of exactly ten common tokens appears right here"
    docs = spark.createDataFrame(
        [
            (1, f"first document opening words {common} then a unique ending"),
            (2, f"totally different preamble text {common} and another tail"),
            (3, "an unrelated document about something else entirely ok"),
        ],
        "doc_id bigint, text string",
    )
    fps = {
        r["id"]: set(r["fps"])
        for r in winnow_fingerprint_sets(docs, "doc_id", "text").collect()
    }
    assert fps[1] & fps[2], "shared 10-token passage must yield a common fingerprint"


def test_winnow_pairs_detects_partial_overlap(spark):
    """winnow_pairs finds the quoting pair (local overlap) and reports
    full containment 1.0 for exact duplicates; unrelated docs pair with
    nobody."""
    from magicxml_spark.operators.dedup import winnow_pairs

    quoted = (
        "to be or not to be that is the question whether tis nobler "
        "in the mind to suffer the slings and arrows of outrageous fortune"
    )
    docs = spark.createDataFrame(
        [
            (1, f"essay introduction paragraph {quoted} concluding remarks follow here"),
            (2, f"a review citing the passage {quoted} with commentary afterwards"),
            (3, "completely unrelated shopping list milk eggs bread butter cheese"),
            (4, "completely unrelated shopping list milk eggs bread butter cheese"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_shared"], r["containment"])
        for r in winnow_pairs(docs, "doc_id", "text", min_shared=2).collect()
    }
    assert (1, 2) in got and got[(1, 2)][0] >= 2
    assert (3, 4) in got and got[(3, 4)][1] == 1.0
    assert not any(3 in p or 4 in p for p in got if p != (3, 4))


def test_winnow_pairs_mega_bucket_cap(spark):
    """Capped winnow_pairs star-emits O(b) distinct pairs for a
    boilerplate cluster and stays a subset of the exact pair set's
    node-coverage (same docs flagged)."""
    from magicxml_spark.operators.dedup import winnow_pairs

    n, cap = 30, 5
    rows = [(i, "identical boilerplate footer text repeated across the whole mirror set") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    exact = winnow_pairs(docs, "doc_id", "text", min_shared=1)
    capped = winnow_pairs(docs, "doc_id", "text", max_bucket_size=cap)
    assert exact.count() == n * (n - 1) // 2
    assert capped.count() == n - 1  # star on the min-id representative
    flagged = {r["id_b"] for r in capped.collect()} | {r["id_a"] for r in capped.collect()}
    assert flagged == set(range(n))


def test_lsh_xxhash64_family(spark):
    """The fast hash family: same plan mechanics, bigint signatures,
    exact duplicates always pair (any hash family agrees on identical
    shingle sets), and on the sf-smoke corpus the candidate set stays
    within a sane band of the md5 family's (both are 4-band minhash
    over the same shingles — families differ only in hash values)."""
    from magicxml_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
    from magicxml_spark.tables import table as t

    docs = t(spark, SF_SMOKE, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", hash_family="xxhash64")
    assert dict(sig.dtypes)["signature"] == "bigint"

    dup = spark.createDataFrame(
        [
            (1, "the same exact document body appears twice in this corpus"),
            (2, "the same exact document body appears twice in this corpus"),
            (3, "a completely different text with no overlap whatsoever here"),
        ],
        "doc_id bigint, text string",
    )
    fast_pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(dup, "doc_id", "text", hash_family="xxhash64").collect()
    }
    assert (1, 2) in fast_pairs and len(fast_pairs) == 1

    n_md5 = lsh_candidate_pairs(docs, "doc_id", "text").count()
    n_fast = lsh_candidate_pairs(docs, "doc_id", "text", hash_family="xxhash64").count()
    assert n_fast >= 0.5 * n_md5  # both catch the duplicate clusters

    import pytest

    with pytest.raises(ValueError, match="hash_family"):
        minhash_signatures(docs, "doc_id", "text", hash_family="sha9")


# ---------------------------------------------------------------------------
# Deterministic sketches (HyperLogLog, Count-Min)
# ---------------------------------------------------------------------------


def test_hll_accuracy_and_branches(spark):
    """p=10 HLL lands within the theoretical error band on 20k
    distincts (hll branch), switches to linear counting when sparse,
    and is multiset-invariant (duplicates don't move the estimate)."""
    from magicxml_spark.operators.sketches import hll_distinct

    big = spark.range(20_000).select(
        F.lit("big").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    small = spark.range(100).select(
        F.lit("small").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    out = {
        r["g"]: r for r in hll_distinct(big.unionByName(small), "g", "v").collect()
    }
    assert out["big"]["method"] == "hll"
    assert abs(out["big"]["hll_estimate"] - 20_000) / 20_000 < 0.08
    assert out["small"]["method"] == "linear_counting"
    assert abs(out["small"]["hll_estimate"] - 100) / 100 < 0.05
    # multiset invariance: union the same values three times
    tripled = big.unionByName(big).unionByName(big)
    trip = hll_distinct(tripled, "g", "v").collect()[0]
    assert trip["hll_estimate"] == out["big"]["hll_estimate"]


def test_countmin_never_underestimates(spark):
    """The CM guarantee: min-over-rows estimates are >= the true count
    for EVERY value, even when there are so many distinct values that
    cells collide in every row; with few values the estimates are
    exact."""
    from magicxml_spark.operators.sketches import countmin_estimate, countmin_sketch

    def estimates(vals):
        exact = {
            r["v"]: r["c"]
            for r in vals.groupBy("v").agg(F.count("*").alias("c")).collect()
        }
        cands = vals.select("v").distinct()
        got = countmin_estimate(countmin_sketch(vals, "v"), cands, "v").collect()
        return [(r["cm_estimate"], exact[r["v"]]) for r in got]

    # 4,000 distinct values over 256 cells per row: ~16 per cell
    crowded = estimates(
        spark.createDataFrame([(f"t{i % 4000}",) for i in range(8000)], "v string")
    )
    assert any(est > n for est, n in crowded)  # collisions real
    assert all(est >= n for est, n in crowded)

    sparse = estimates(
        spark.createDataFrame([(f"t{i % 37}",) for i in range(1000)], "v string")
    )
    assert all(est == n for est, n in sparse)


def test_stream_hll_equals_batch(spark):
    """The streaming HLL register state drains to the identical
    register table the batch computation produces — estimates equal to
    the last bit, and the exact per-window distincts bracket them."""
    from magicxml_spark.operators.sketches import hll_fold_registers, hll_register
    from magicxml_spark.streaming.events import run_stream_hll_to_memory

    streamed = {
        r["window_start"]: r for r in run_stream_hll_to_memory(spark, SF_SMOKE).collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    idx, rho = hll_register(F.col("user_id").cast("string"))
    regs = (
        ev.select(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            idx.alias("_i"),
            rho.alias("_r"),
        )
        .groupBy("window_start", "_i")
        .agg(F.max("_r").alias("r"))
    )
    batch = {
        r["window_start"]: r
        for r in hll_fold_registers(regs, ["window_start"]).collect()
    }
    assert streamed.keys() == batch.keys() and len(streamed) > 0
    for k in streamed:
        assert streamed[k]["hll_estimate"] == batch[k]["hll_estimate"], k
        assert streamed[k]["method"] == batch[k]["method"], k
    exact = {
        r["window_start"]: r["n"]
        for r in ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            )
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for k, r in streamed.items():
        assert abs(r["hll_estimate"] - exact[k]) / max(exact[k], 1) < 0.15, (k, r)


def test_bloom_filter_guarantees(spark):
    """No false negatives ever; false positives appear when the filter
    is saturated and vanish when it is sparse; the bit table is
    BLOOM_M-bounded."""
    from magicxml_spark.operators.sketches import BLOOM_M, bloom_bits_table, bloom_probe

    others = spark.createDataFrame([(f"x{i}",) for i in range(500)], "v string")
    for n_members, saturated in ((50_000, True), (200, False)):
        members = spark.createDataFrame(
            [(f"m{i}",) for i in range(n_members)], "v string"
        )
        bits = bloom_bits_table(members, "v")
        assert bits.count() <= BLOOM_M
        got = {
            r["v"]: r["bloom_maybe"]
            for r in bloom_probe(members.unionByName(others), [], "v", bits).collect()
        }
        assert all(got[f"m{i}"] for i in range(n_members))  # never a false negative
        # FP rate ~ (1-e^-kn/m)^k: ~0.8 at 50,000 members, ~1e-8 at 200
        assert any(got[f"x{i}"] for i in range(500)) == saturated


def test_bloom_compiled_probe_matches_join_probe(spark):
    """The compiled-bitmap projection (production shape) must agree
    bit-for-bit with the join spelling on the same filter — every
    member true, identical verdicts on non-members (including any
    false positives), for both a saturated and a sparse filter — and
    its plan must contain no Exchange (pure projection)."""
    from magicxml_spark.operators.sketches import (
        bloom_bitmap_hex,
        bloom_bits_table,
        bloom_probe,
        bloom_probe_compiled,
    )

    others = spark.createDataFrame([(f"x{i}",) for i in range(500)], "v string")
    for n_members in (50_000, 200):
        members = spark.createDataFrame(
            [(f"m{i}",) for i in range(n_members)], "v string"
        )
        both = members.unionByName(others)
        bits = bloom_bits_table(members, "v")
        hexmap = bloom_bitmap_hex(bits)
        via_join = {
            r["v"]: r["bloom_maybe"]
            for r in bloom_probe(both, [], "v", bits).collect()
        }
        compiled = bloom_probe_compiled(both, "v", hexmap)
        via_lit = {r["v"]: r["bloom_maybe"] for r in compiled.collect()}
        assert via_lit == via_join
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        bloom_probe_compiled(both, "v", "00ff")


def test_histogram_quantiles_accuracy(spark):
    """Bin-midpoint estimates land within one bin width of the true
    quantile on a uniform column; degenerate constant columns report
    width 0 at the constant."""
    from magicxml_spark.operators.sketches import histogram_quantiles

    n = 10_000
    uni = spark.range(n).select((F.col("id") / (n - 1) * 100.0).alias("v"))
    got = {r["quantile"]: r for r in histogram_quantiles(uni, "v").collect()}
    for q in (0.5, 0.9, 0.99):
        r = got[q]
        assert abs(r["approx_value"] - q * 100.0) <= r["bin_width"] + 1e-9, (q, r)
        assert r["n_rows"] == n
    const = spark.range(100).select(F.lit(7.5).alias("v"))
    c = histogram_quantiles(const, "v").collect()[0]
    assert c["approx_value"] == 7.5 and c["bin_width"] == 0.0


def test_stream_cm_equals_batch_counts(spark):
    """event_type cardinality is far below the sketch width, so the
    streamed Count-Min estimates must EQUAL the exact per-window
    type counts (no collisions) — proving cells merged additively
    across micro-batches with no loss or double count."""
    from magicxml_spark.streaming.events import run_stream_cm_to_memory

    streamed = {
        (r["window_start"], r["event_type"]): r["cm_estimate"]
        for r in run_stream_cm_to_memory(spark, SF_SMOKE).collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    exact = {
        (r["ws"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert streamed == exact and len(streamed) > 0


def test_heuristic_parse_num_rule_cross_engine(spark):
    """The NUM regex must read identically through Spark's SQL string
    parser (which strips backslashes) and DuckDB's — pinned on the
    tokens that exposed the divergence: '3.5' is NUM, '1,000' and
    '3-4' are NOT (comma/dash are not in the rule), on BOTH engines."""
    import duckdb

    from magicxml_spark.analytics.heuristic_parse import (
        heuristic_dependency_parse,
        pos_case_sql,
    )

    docs = spark.createDataFrame(
        [(1, "weight 3.5 versus 1,000 and 3-4 or 42")], ["doc_id", "text"]
    )
    got = {
        r["token"]: r["pos"] for r in heuristic_dependency_parse(docs).collect()
    }
    assert got["3.5"] == "NUM" and got["42"] == "NUM"
    assert got["1,000"] == "NOUN" and got["3-4"] == "NOUN"

    con = duckdb.connect()
    for tok in ("3.5", "1,000", "3-4", "42"):
        duck_pos = con.execute(
            f"SELECT {pos_case_sql('t', 'i', 'regexp_matches')} "
            f"FROM (SELECT '{tok}' AS t, 1 AS i)"
        ).fetchone()[0]
        assert duck_pos == got[tok], tok


def test_default_max_bucket_size_caps_batch_emitters(spark):
    """The DEFAULT path is the capped mode on every batch pair emitter
    (VERDICT r4 #1): a boilerplate cluster larger than
    DEFAULT_MAX_BUCKET_SIZE star-emits O(b) pairs out of the box —
    quadratic emission now requires the explicit ``max_bucket_size=None``
    opt-out. Also pins that capped winnow_pairs keeps the SAME output
    schema (n_shared + containment) as the exact mode."""
    from magicxml_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET_SIZE,
        lsh_candidate_pairs,
        simhash_near_dup_pairs,
        simhash_wide_near_dup_pairs,
        winnow_pairs,
    )

    n = DEFAULT_MAX_BUCKET_SIZE + 6
    docs = spark.createDataFrame(
        [(i, "the very same boilerplate footer text repeated everywhere") for i in range(n)],
        "doc_id bigint, text string",
    )
    star, quad = n - 1, n * (n - 1) // 2

    assert lsh_candidate_pairs(docs, "doc_id", "text").count() == star
    assert (
        lsh_candidate_pairs(docs, "doc_id", "text", max_bucket_size=None).count()
        == quad
    )
    assert simhash_near_dup_pairs(docs).count() == star
    assert simhash_wide_near_dup_pairs(docs).count() == star

    capped_w = winnow_pairs(docs, "doc_id", "text")
    assert capped_w.columns == ["id_a", "id_b", "n_shared", "containment"]
    rows = capped_w.collect()
    assert len(rows) == star
    # identical docs: full fingerprint containment through the star rep
    assert all(r["id_a"] == 0 and r["containment"] == 1.0 for r in rows)
    exact_w = winnow_pairs(docs, "doc_id", "text", max_bucket_size=None)
    assert exact_w.columns == capped_w.columns
    assert exact_w.count() == quad


def test_winnow_pairs_capped_equals_exact_under_cap(spark):
    """For corpora whose fingerprint buckets all fit under the cap, the
    capped default must EQUAL the exact mode row-for-row (the property
    that lets oracle-gated queries pin None while users get the capped
    default with no behavior change at sane bucket sizes)."""
    from magicxml_spark.operators.dedup import winnow_pairs

    quoted = (
        "to be or not to be that is the question whether tis nobler "
        "in the mind to suffer the slings and arrows of outrageous fortune"
    )
    docs = spark.createDataFrame(
        [
            (1, f"essay introduction paragraph {quoted} concluding remarks follow"),
            (2, f"a review citing the passage {quoted} with commentary afterwards"),
            (3, "completely unrelated shopping list milk eggs bread butter cheese"),
            (4, "completely unrelated shopping list milk eggs bread butter cheese"),
        ],
        "doc_id bigint, text string",
    )
    exact = sorted(
        map(tuple, winnow_pairs(docs, "doc_id", "text", max_bucket_size=None).collect())
    )
    capped = sorted(map(tuple, winnow_pairs(docs, "doc_id", "text").collect()))
    assert capped == exact and len(exact) > 0


def test_interval_lookup_join_matches_nonequi_join(spark):
    """The compiled interval lookup must equal the broadcast non-equi
    join row-for-row (inner semantics: no-match facts dropped), reject
    overlapping intervals, and reject dimensions above the compile cap."""
    import pytest

    from magicxml_spark.operators.asof import interval_lookup_join

    facts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([-3, 0, 5, 24.999, 25, 60, 74.9, 75, 99, 1000])],
        "fact_id bigint, value double",
    )
    tiers = spark.createDataFrame(
        [("low", 0.0, 25.0), ("mid", 25.0, 75.0), ("high", 75.0, 100.0)],
        "tier string, lo double, hi double",
    )
    ref = sorted(
        map(
            tuple,
            facts.join(
                F.broadcast(tiers),
                (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
            )
            .select("fact_id", "value", "tier", "lo", "hi")
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            interval_lookup_join(facts, tiers, "value")
            .select("fact_id", "value", "tier", "lo", "hi")
            .collect(),
        )
    )
    assert got == ref
    # -3 (below all) and 1000 (above all) dropped by both
    assert len(got) == 8

    overlap = spark.createDataFrame(
        [("a", 0.0, 30.0), ("b", 25.0, 75.0)], "tier string, lo double, hi double"
    )
    with pytest.raises(ValueError, match="overlap"):
        interval_lookup_join(facts, overlap, "value")

    big = spark.range(10).selectExpr(
        "concat('t', id) AS tier", "CAST(id AS DOUBLE) AS lo", "CAST(id+1 AS DOUBLE) AS hi"
    )
    with pytest.raises(ValueError, match="max_compiled_intervals"):
        interval_lookup_join(facts, big, "value", max_compiled_intervals=5)


def test_simhash16_table_matches_column_form(spark):
    """The explode/hash-agg materializer is bit-identical to the
    HOF-aggregate Column form, including empty and whitespace-only
    docs (sketch 0, the empty-aggregate result)."""
    from magicxml_spark.operators.dedup import simhash16, simhash16_table

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text with other words entirely"),
            (4, ""),
            (5, "   "),
            (6, "one"),
        ],
        "doc_id bigint, text string",
    )
    col_form = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash16(F.col("text")).alias("s")).collect()
    }
    tbl_form = {
        r["id"]: r["simhash"] for r in simhash16_table(docs, "doc_id", "text").collect()
    }
    assert tbl_form == col_form
    assert tbl_form[4] == 0 and tbl_form[5] == 0
    assert tbl_form[1] == tbl_form[2] != tbl_form[3]


def test_substring_dedup_scrubs_repeated_spans(spark):
    """Exact substring dedup accounting: a shared 10-word passage keeps
    only its global first occurrence; the later doc loses exactly that
    span (overlapping repeated 8-grams merged into ONE island), unique
    text survives, and whole-doc duplicates scrub to empty."""
    from magicxml_spark.operators.dedup import substring_dedup_stats

    quoted = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {quoted} closing remarks"),
            (2, f"other document quoting {quoted} with its own ending"),
            (3, "entirely unique content nothing shared with anyone at all today"),
            (4, "tiny doc"),
            (5, "tiny doc"),
        ],
        "doc_id bigint, text string",
    )
    stats = {r["id"]: r for r in substring_dedup_stats(docs, n=8).collect()}
    # doc 1 holds the first occurrence -> nothing removed
    assert stats[1]["tokens_removed"] == 0
    # doc 2: the 10 quoted tokens form one merged island (three
    # overlapping repeated 8-grams), own words survive
    assert stats[2]["n_repeat_islands"] == 1
    assert stats[2]["tokens_removed"] == 10
    assert stats[2]["tokens_remaining"] == stats[2]["n_tokens"] - 10
    assert stats[3]["tokens_removed"] == 0
    # whole-doc dup shorter than n: doc 5 is a repeat of doc 4's single
    # whole-text gram; clamped to its real 2 tokens
    assert stats[4]["tokens_removed"] == 0
    assert stats[5]["tokens_removed"] == 2 and stats[5]["tokens_remaining"] == 0


def test_substring_dedup_extreme_ids_and_giant_docs(spark):
    """First-occurrence selection survives the two domains the old
    ``id * 1e6 + pos`` packing corrupted (VERDICT r5 #1): doc_ids past
    ~9.2e12 (full-range xxhash64 ids from warc_to_documents overflow
    the bigint product) and >=1M-token documents (positions bleed into
    the next id's key range). The struct (id, pos) min has no packing
    precondition — lexicographic order IS the oracle semantics."""
    from magicxml_spark.operators.dedup import substring_dedup_stats

    quoted = "alpha bravo charlie delta echo foxtrot golf hotel"
    # extreme ids: packing would overflow (ANSI: job error; pre-ANSI:
    # silent wrong winner). min(struct) must pick the SMALLER id.
    docs = spark.createDataFrame(
        [
            (9_300_000_000_000_000, f"first home of the passage {quoted}"),
            (9_300_000_000_000_001, f"{quoted} repeated in the bigger id"),
        ],
        "doc_id bigint, text string",
    )
    stats = {r["id"]: r for r in substring_dedup_stats(docs, n=8).collect()}
    assert stats[9_300_000_000_000_000]["tokens_removed"] == 0
    assert stats[9_300_000_000_000_001]["tokens_removed"] == 8

    # giant doc: the repeat sits past the 1e6-position boundary in the
    # LOWER id, so packed keys would collide into id 2's range and
    # (1*1e6 + 1000004 = 2000004) > (2*1e6 + 3 = 2000003) would flip
    # the winner; struct order keeps (1, 1000004) < (2, 3).
    filler = " ".join(f"w{i}" for i in range(1_000_004))
    giant = spark.createDataFrame(
        [
            (1, f"{filler} {quoted}"),
            (2, f"pad pad pad {quoted} trailing words here"),
        ],
        "doc_id bigint, text string",
    )
    gstats = {r["id"]: r for r in substring_dedup_stats(giant, n=8).collect()}
    assert gstats[1]["tokens_removed"] == 0
    assert gstats[1]["n_tokens"] == 1_000_012
    assert gstats[2]["tokens_removed"] == 8


def test_embedding_cluster_dedup_semantics(spark, monkeypatch):
    """SemDeDup-class dedup: within-cell near-dups above the threshold
    drop the larger id; sub-threshold and cross-cell survivors keep;
    exact duplicates are NEVER missed (the oracle-gated invariant)."""
    import math

    from pyspark.sql import functions as F

    from magicxml_spark.operators.similarity import embedding_cluster_dedup

    def unit(*v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    # two well-separated directions so the seeded 2-cell KMeans splits
    # them; ids 1/2/3 near +x, 10/11 near +y
    rows = [
        (1, unit(1.0, 0.01, 0.0)),
        (2, unit(1.0, 0.01, 0.0)),      # exact dup of 1 -> dropped
        (3, unit(1.0, 0.5, 0.0)),       # same cell, sim ~0.9 < 0.95 -> kept
        (10, unit(0.0, 1.0, 0.02)),
        (11, unit(0.01, 1.0, 0.02)),    # near-dup of 10 -> dropped
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    import magicxml_spark.operators.similarity as sim_mod

    monkeypatch.setattr(sim_mod, "auto_n_cells", lambda n_rows: 2)
    out = {
        r["id"]: r
        for r in embedding_cluster_dedup(
            df, "vec_id", "embedding", threshold=0.95, block_rows=2
        ).collect()
    }
    assert len(out) == 5  # one row per input id
    assert {i for i, r in out.items() if r["keep"] == 1} == {1, 3, 10}
    assert {i for i, r in out.items() if r["keep"] == 0} == {2, 11}
    # cells are consistent: a dropped id shares its cell with a
    # smaller-id keeper
    assert out[2]["cell"] == out[1]["cell"]
    assert out[11]["cell"] == out[10]["cell"]
    # block_rows=2 forces multi-block cells: the per-cell grid must
    # still see every (a, b) pair (id 2's dominator may sit in any
    # query block) — already asserted by the keep sets above


def test_embedding_cluster_dedup_auto_cells(spark):
    """The cell count is ~sqrt(n) (the auto_n_cells rule shared with
    the IVF dispatch), and exact dups never escape at the floor of 16
    cells on 5 rows."""
    import math

    from magicxml_spark.operators.similarity import (
        auto_n_cells,
        embedding_cluster_dedup,
    )

    assert auto_n_cells(100) == 16          # floor
    assert auto_n_cells(1_000_000) == 1000  # sqrt
    assert auto_n_cells(10**12) == 32768    # cap

    def unit(*v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = [
        (1, unit(1.0, 0.01, 0.0)),
        (2, unit(1.0, 0.01, 0.0)),      # exact dup of 1 -> dropped
        (3, unit(1.0, 0.5, 0.0)),
        (10, unit(0.0, 1.0, 0.02)),
        (11, unit(0.01, 1.0, 0.02)),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    auto = embedding_cluster_dedup(df, "vec_id", "embedding", threshold=0.95)
    assert {r["id"]: r["keep"] for r in auto.collect()}[2] == 0
