"""P8 recursive category path vs a direct reimplementation of the
reference closure (main.py:1487-1506) on trees with cycles, orphans,
and Undefined names (FIXTURES.md F2)."""

from __future__ import annotations

import pytest

from magicxml_spark.operators.category_path import (
    MAX_DEPTH,
    build_category_paths,
    build_category_paths_sql,
)

# (id, parent, name): depth chain, cycle pair, self-loop, orphan parent,
# Undefined name mid-chain
CATS = [
    ("1", None, "Root"),
    ("2", "1", "Mid"),
    ("3", "2", "Leaf"),
    ("4", "5", "CycleA"),
    ("5", "4", "CycleB"),
    ("6", "6", "SelfLoop"),
    ("7", "404", "Orphan"),
    ("8", "2", "Undefined"),
    ("9", "8", "UnderUndef"),
]


def reference_build_path(cid, categories, parents):
    # faithful reimplementation of main.py:1487-1506 for oracle use
    if not cid or cid == "Undefined":
        return "Undefined"
    path, current, visited = [], cid, set()
    while current and current in categories and current not in visited:
        visited.add(current)
        name = categories.get(current, "Undefined")
        if name and name != "Undefined":
            path.append(name)
        current = parents.get(current)
    if not path:
        return categories[cid] if cid in categories else "Undefined"
    return "///".join(reversed(path))


@pytest.fixture(scope="module")
def cats_df(spark):
    return spark.createDataFrame(CATS, ["id", "parent_id", "name"])


def _dim(df, driver_rows):
    """The dimension as driver rows (the driver walk) or as the frame
    itself (the distributed iterative loop)."""
    return df.collect() if driver_rows else df


# both strategies must match the reference closure
@pytest.mark.parametrize("driver_rows", [True, False], ids=["driver", "distributed"])
def test_matches_reference_closure(spark, cats_df, driver_rows):
    got = {
        r["id"]: r["category_path"]
        for r in build_category_paths(
            _dim(cats_df, driver_rows), skip_undefined_names=True
        ).collect()
    }
    categories = {c[0]: c[2] for c in CATS}
    parents = {c[0]: c[1] for c in CATS if c[1]}
    for cid in categories:
        assert got[cid] == reference_build_path(cid, categories, parents), cid


@pytest.mark.parametrize("driver_rows", [True, False], ids=["driver", "distributed"])
def test_full_mode_keeps_undefined(spark, cats_df, driver_rows):
    got = {
        r["id"]: r["category_path"]
        for r in build_category_paths(_dim(cats_df, driver_rows)).collect()
    }
    assert got["3"] == "Root///Mid///Leaf"
    assert got["9"] == "Root///Mid///Undefined///UnderUndef"
    assert got["6"] == "SelfLoop"
    assert got["4"] == "CycleB///CycleA"


def test_recursive_cte_agrees_on_acyclic(spark, cats_df):
    # the declarative twin on the cycle-free subset
    acyclic = cats_df.filter(~cats_df.id.isin("4", "5", "6"))
    loop = {
        r["id"]: r["category_path"] for r in build_category_paths(acyclic).collect()
    }
    sql = {
        r["id"]: r["category_path"]
        for r in build_category_paths_sql(spark, acyclic).collect()
    }
    assert loop == sql


def test_recursive_cte_agrees_on_cycles(spark, cats_df):
    """ADVICE r3: the CTE carries a visited-id array, so cycle rows
    (2-cycle, self-loop) stop at the first revisited id exactly like
    the driver walk and the distributed loop — the full fixture
    including cycles must agree across all three strategies, and the
    cycle paths must not repeat names up to max_depth."""
    driver = {
        r["id"]: r["category_path"]
        for r in build_category_paths(cats_df.collect()).collect()
    }
    distributed = {
        r["id"]: r["category_path"] for r in build_category_paths(cats_df).collect()
    }
    sql = {
        r["id"]: r["category_path"]
        for r in build_category_paths_sql(spark, cats_df).collect()
    }
    assert driver == distributed == sql
    assert sql["4"] == "CycleB///CycleA"  # stopped at revisit, not depth cap
    assert sql["6"] == "SelfLoop"


def test_depth_100_chain_parity_all_strategies(spark):
    """Depth-100 chain: driver walk, distributed loop, and recursive CTE
    all return the identical path of every node. With the session's
    ``cteRecursionLevelLimit`` below what the MAX_DEPTH cap needs, this
    also pins the limit-raising guard in build_category_paths_sql —
    without it the statement errors out instead of completing."""
    depth = 100
    rows = [(str(i), str(i - 1) if i > 0 else None, f"N{i}") for i in range(depth)]
    chain = spark.createDataFrame(rows, ["id", "parent_id", "name"])

    driver = {
        r["id"]: r["category_path"]
        for r in build_category_paths(chain.collect()).collect()
    }
    distributed = {
        r["id"]: r["category_path"]
        for r in build_category_paths(chain).collect()
    }
    prior = spark.conf.get("spark.sql.cteRecursionLevelLimit", "100")
    try:
        spark.conf.set("spark.sql.cteRecursionLevelLimit", str(MAX_DEPTH // 2))
        sql_df = build_category_paths_sql(spark, chain)
        # ADVICE r3: the escalation branch materializes eagerly and
        # restores the session limit — no hidden session-global leak
        assert spark.conf.get("spark.sql.cteRecursionLevelLimit") == str(MAX_DEPTH // 2)
        sql = {r["id"]: r["category_path"] for r in sql_df.collect()}
    finally:
        spark.conf.set("spark.sql.cteRecursionLevelLimit", prior)

    assert driver[str(MAX_DEPTH - 1)] == "///".join(f"N{i}" for i in range(MAX_DEPTH))
    assert driver == distributed == sql


def test_deep_chain_truncates_at_cap_identically(spark):
    """A chain deeper than MAX_DEPTH keeps a partial path (never
    raises) of EXACTLY MAX_DEPTH leaf-anchored names — identical in all
    three strategies, so results don't shift when the dimension size
    crosses the driver-row cap or a caller switches spellings."""
    depth, cap = 100, MAX_DEPTH
    rows = [(str(i), str(i - 1) if i > 0 else None, f"N{i}") for i in range(depth)]
    chain = spark.createDataFrame(rows, ["id", "parent_id", "name"])

    driver = {
        r["id"]: r["category_path"]
        for r in build_category_paths(chain.collect()).collect()
    }
    loop = {
        r["id"]: r["category_path"]
        for r in build_category_paths(chain).collect()
    }
    sql = {
        r["id"]: r["category_path"]
        for r in build_category_paths_sql(spark, chain).collect()
    }
    assert driver == loop == sql
    leaf = driver[str(depth - 1)]
    assert leaf == "///".join(f"N{i}" for i in range(depth - cap, depth))
    assert len(leaf.split("///")) == cap


def test_compiled_lookup_matches_join_spelling(spark, cats_df):
    """category_path_lookup (the constant-folded map projection behind
    q_category_path) must equal build_category_paths + join on the full
    fixture — cycles, self-loop, orphan parent, Undefined names."""
    from pyspark.sql import functions as F

    from magicxml_spark.operators.category_path import category_path_lookup

    facts = spark.createDataFrame(
        [(i, str(k)) for i, k in enumerate(["1", "3", "5", "6", "7", "9", "404"])],
        ["fact_id", "cat_id"],
    )
    paths = build_category_paths(cats_df.collect())
    via_join = {
        (r["fact_id"], r["category_path"])
        for r in facts.join(paths, facts["cat_id"] == paths["id"]).select(
            "fact_id", "category_path"
        ).collect()
    }
    col = category_path_lookup(cats_df, "cat_id")
    via_lookup = {
        (r["fact_id"], r["category_path"])
        for r in facts.select("fact_id", col.alias("category_path"))
        .filter(F.col("category_path").isNotNull())
        .collect()
    }
    assert via_lookup == via_join
    # the unknown key ('404') must be NULL -> filtered, like the inner join
    assert all(f != 6 for f, _ in via_lookup)


def test_compiled_lookup_guard_raises_toward_join(spark, cats_df):
    """Dimensions above max_compiled_rows refuse to embed in the plan
    (same contract as asof.interval_lookup_join's cap)."""
    from magicxml_spark.operators.category_path import category_path_lookup

    with pytest.raises(ValueError, match="max_compiled_rows"):
        category_path_lookup(cats_df, "cat_id", max_compiled_rows=3)
