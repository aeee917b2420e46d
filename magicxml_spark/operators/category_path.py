"""P8: recursive category-path materialization (reference main.py:1477-1506).

The reference walks each row's ``id -> parentId`` chain through an
in-memory adjacency dict, collecting names root->leaf, with a
visited-set cycle guard and 'Undefined' for unknown names
(main.py:1487-1506).

Spark spelling — two interchangeable strategies:

* ``build_category_paths`` (default): the reference's walk over
  driver rows, or, for a dimension given as a DataFrame, a bounded
  driver loop of **broadcast self-joins to fixpoint**. The category
  dimension is tiny relative to the fact table (thousands of nodes vs
  billions of rows), so each iteration is a broadcast hash join with
  no shuffle; the loop runs depth times (trees are shallow). Either
  way the fact table is only touched once, by a final broadcast join
  against the (id, category_path) dimension.
* ``build_category_paths_sql``: Spark 4.x native ``WITH RECURSIVE`` —
  same result, one SQL statement; kept as the declarative alternative
  (and it is exactly the DuckDB oracle spelling).

Cycle guard parity: a node whose ancestor chain revisits an id stops
extending, like the reference's ``visited`` set (main.py:1495). Unknown
parent names contribute 'Undefined' (main.py:1483, 1497-1499).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

PATH_SEP = "///"

# Chains deeper than this keep a partial path of exactly MAX_DEPTH
# leaf-anchored names — the same truncation in all three strategies
# (driver walk, distributed loop, recursive CTE), so results don't
# shift with the dimension's size. It also bounds a walk over a
# malformed (cyclic or very deep) dimension.
MAX_DEPTH = 64

# category_path_lookup ceiling: the pairs become ONE constant-folded
# map literal in the plan, so the dimension must stay plan-embeddable.
DEFAULT_MAX_COMPILED_PATHS = 10_000


def _driver_walk(rows, skip_undefined_names: bool) -> list[tuple[str, str]]:
    """The reference's adjacency walk (main.py:1487-1506) over
    (id, parent_id, name) rows on the driver: root->leaf names joined
    by ``PATH_SEP``, visited-set cycle guard, MAX_DEPTH truncation; an empty
    parent is none, a missing name 'Undefined'. The single
    implementation behind both the driver rows of
    ``build_category_paths`` and the compiled lookup column."""
    names = {cid: "Undefined" if name is None else name for cid, _, name in rows}
    parents = {cid: parent for cid, parent, _ in rows if parent}
    out = []
    for cid in names:
        path, current, visited = [], cid, set()
        # len(visited) < MAX_DEPTH: identical truncation contract as
        # the distributed loop and the CTE — at most MAX_DEPTH names
        while (
            current
            and current in names
            and current not in visited
            and len(visited) < MAX_DEPTH
        ):
            visited.add(current)
            name = names[current]
            if not skip_undefined_names or (name and name != "Undefined"):
                path.append(name)
            current = parents.get(current)
        if not path:
            value = names[cid]
        else:
            value = PATH_SEP.join(reversed(path))
        out.append((cid, value))
    return out


def category_path_lookup(
    categories: DataFrame,
    key: Column | str,
    max_compiled_rows: int = DEFAULT_MAX_COMPILED_PATHS,
) -> Column:
    """Compile the (small) category dimension into a single map-literal
    lookup Column: ``element_at(<constant map id->path>, key)``.

    Same contract as ``operators.asof.interval_lookup_join``'s compiled
    arm: when the dimension is bounded (category trees are thousands of
    nodes against billions of fact rows), attaching the path via a
    broadcast join pays a dim-walk job, a createDataFrame round-trip
    AND a broadcast exchange — the compiled form collapses all of that
    into ONE projection over the fact scan (constant folding turns the
    ``create_map`` of literals into a Literal map, so nothing is
    re-evaluated per row). sf1 A/B: 0.96-1.14 s broadcast-join spelling
    vs 0.85 s compiled, hash-identical (BASELINE.md round-6 residues).

    Keys absent from the dimension yield NULL (callers filter, matching
    the inner-join spelling). Dimensions above ``max_compiled_rows``
    raise toward ``build_category_paths`` + join — a plan-embedded
    literal map must stay small.
    """
    dim = categories.select(
        *[F.col(c).cast("string") for c in ("id", "parent_id", "name")]
    )
    rows = dim.take(max_compiled_rows + 1)
    if len(rows) > max_compiled_rows:
        raise ValueError(
            f"category dimension exceeds max_compiled_rows={max_compiled_rows}; "
            "use build_category_paths() + a broadcast join instead"
        )
    pairs = _driver_walk(rows, False)
    mapping = F.create_map(*[F.lit(x) for p in pairs for x in p])
    key_col = F.col(key) if isinstance(key, str) else key
    return F.element_at(mapping, key_col.cast("string"))


def build_category_paths(
    categories: DataFrame | list[Row],
    skip_undefined_names: bool = False,
) -> DataFrame:
    """Return (id, category_path) with path = root->leaf names joined by
    ``PATH_SEP``. Cycles and orphan parents terminate the walk (reference
    main.py:1495-1499). Chains deeper than ``MAX_DEPTH`` keep a partial
    path of exactly ``MAX_DEPTH`` leaf-anchored names.

    ``skip_undefined_names=True`` reproduces the reference closure
    exactly (main.py:1487-1506): 'Undefined' names are dropped from the
    path, and if that leaves nothing the node's own name is returned.

    Execution strategy by the dimension's form: driver rows (a bounded
    dimension, already collected) are walked on the driver and the
    result becomes a DataFrame once, for the broadcast join — a
    per-iteration Spark job would cost more in scheduling than the
    whole computation; a DataFrame (an oversized dimension) takes the
    distributed iterative broadcast-join loop. Both produce identical
    results (tests cross-check them).
    """
    if isinstance(categories, list):
        rows = [(r["id"], r["parent_id"], r["name"]) for r in categories]
        return SparkSession.active().createDataFrame(
            _driver_walk(rows, skip_undefined_names),
            "id string, category_path string",
        )
    dim = categories.select(
        F.col("id").cast("string").alias("_id"),
        F.nullif(F.col("parent_id").cast("string"), F.lit("")).alias("_parent"),
        F.coalesce(F.col("name").cast("string"), F.lit("Undefined")).alias("_name"),
    )

    # distributed loop: pin the dim so per-iteration joins don't rescan
    dim = dim.localCheckpoint(eager=True)

    # State: for each starting id — names collected so far (leaf-first),
    # the next ancestor to resolve, and the visited ids (cycle guard).
    # A self-parent is a cycle from step 0 (reference pre-checks
    # `visited` before consuming), so it never enters the loop.
    state = dim.select(
        F.col("_id").alias("id"),
        F.array(F.col("_name")).alias("_names"),
        F.when(F.col("_parent") != F.col("_id"), F.col("_parent")).alias("_next"),
        F.array(F.col("_id")).alias("_visited"),
    )
    done = state.filter(F.col("_next").isNull()).drop("_next")

    # MAX_DEPTH - 1 join rounds: the seed row already holds one name, and
    # every round appends at most one more, capping paths at MAX_DEPTH
    # names — the same truncation the driver walk and the CTE apply.
    for _ in range(MAX_DEPTH - 1):
        active = state.filter(F.col("_next").isNotNull())
        if active.isEmpty():
            break
        joined = active.join(
            F.broadcast(dim), active["_next"] == dim["_id"], "left"
        )
        state = joined.select(
            F.col("id"),
            F.when(
                F.col("_id").isNotNull(), F.concat(F.col("_names"), F.array(F.col("_name")))
            )
            .otherwise(F.col("_names"))
            .alias("_names"),
            # stop on: orphan parent (no dim row) or cycle (parent already
            # visited — including the ancestor we just consumed, so a
            # self-loop terminates immediately)
            F.when(
                F.col("_id").isNotNull()
                & ~F.array_contains(
                    F.concat(F.col("_visited"), F.array(F.col("_id"))), F.col("_parent")
                ),
                F.col("_parent"),
            ).alias("_next"),
            F.when(
                F.col("_id").isNotNull(), F.concat(F.col("_visited"), F.array(F.col("_id")))
            )
            .otherwise(F.col("_visited"))
            .alias("_visited"),
        ).localCheckpoint(eager=True)  # cut lineage: plans must not grow with depth
        done = done.unionByName(state.filter(F.col("_next").isNull()).drop("_next"))
        state = state.filter(F.col("_next").isNotNull())

    # anything still active at MAX_DEPTH keeps its partial path
    done = done.unionByName(state.drop("_next"))
    if skip_undefined_names:
        kept = F.filter(F.reverse(F.col("_names")), lambda x: x != F.lit("Undefined"))
        path = F.when(F.size(kept) > 0, F.array_join(kept, PATH_SEP)).otherwise(
            # empty path -> the node's own name (reference main.py:1502-1505)
            F.element_at(F.col("_names"), 1)
        )
    else:
        path = F.array_join(F.reverse(F.col("_names")), PATH_SEP)
    return done.select("id", path.alias("category_path"))


def build_category_paths_sql(spark, categories: DataFrame) -> DataFrame:
    """Declarative twin using Spark 4 recursive CTE. Expects columns
    (id, parent_id, name). Cycle-safe via depth cap.

    A chain deeper than ``MAX_DEPTH`` keeps its partial (truncated)
    path of exactly ``MAX_DEPTH`` names, identically in both strategies. Cycles carry a
    ``visited`` id array through the recursion and stop at the first
    revisited id — the same visited-set guard as the driver walk and
    the distributed loop (reference main.py:1495), so all three
    strategies agree on cyclic inputs too (test-pinned).

    Spark guards recursion independently via
    ``spark.sql.cteRecursionLevelLimit`` (default 100) and *errors*
    when the CTE would iterate past it, so the session limit is raised
    whenever the cap needs more iterations than a session's limit
    allows — and, to keep the raise from leaking into unrelated queries
    on the same session, the result is materialized eagerly
    (localCheckpoint) inside the escalation branch and the prior limit
    restored before returning. At Spark's default limit the CTE never
    escalates and stays fully lazy.
    """
    categories.createOrReplaceTempView("_cat_dim")
    # the visited array is the cycle guard: a parent already on the
    # chain stops the walk exactly where the reference's visited set
    # does, instead of looping names until MAX_DEPTH
    sql = f"""
        WITH RECURSIVE walk (id, path, ancestor, visited, depth) AS (
          SELECT CAST(id AS STRING),
                 coalesce(CAST(name AS STRING), 'Undefined'),
                 CAST(parent_id AS STRING),
                 array(CAST(id AS STRING)), 1
          FROM _cat_dim
          UNION ALL
          SELECT w.id, concat(coalesce(CAST(c.name AS STRING), 'Undefined'), '{PATH_SEP}', w.path),
                 CAST(c.parent_id AS STRING),
                 concat(w.visited, array(CAST(c.id AS STRING))), w.depth + 1
          FROM walk w JOIN _cat_dim c ON w.ancestor = CAST(c.id AS STRING)
          WHERE w.depth < {MAX_DEPTH}
            AND NOT array_contains(w.visited, CAST(c.id AS STRING))
        )
        SELECT id, max_by(path, depth) AS category_path
        FROM walk GROUP BY id
        """
    limit = int(spark.conf.get("spark.sql.cteRecursionLevelLimit", "100"))
    if MAX_DEPTH + 1 <= limit:
        return spark.sql(sql)
    spark.conf.set("spark.sql.cteRecursionLevelLimit", str(MAX_DEPTH + 1))
    try:
        # dimension-sized input: eager materialization is cheap and lets
        # the session limit be restored soundly (the plan has executed)
        return spark.sql(sql).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.cteRecursionLevelLimit", str(limit))
