"""P8: category-path materialization queries (reference main.py:1477-1506).

The testdata's region <- nation hierarchy stands in for the category
tree (FIXTURES.md). Both engine spellings are exercised: the iterative
broadcast-join loop (scale path) and the Spark 4 recursive CTE
(declarative twin). Deeper trees incl. cycles/orphans are covered by
unit tests on synthetic fixtures (tests/test_category_path.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magicxml_spark.operators.category_path import (
    build_category_paths_sql,
    category_path_lookup,
)
from magicxml_spark.queries import query
from magicxml_spark.tables import table


def _geo_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region+nation as one adjacency-list dimension (id, parent_id, name)."""
    region = table(spark, sf_dir, "region").select(
        F.concat(F.lit("r"), F.col("r_regionkey")).alias("id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.col("r_name").alias("name"),
    )
    nation = table(spark, sf_dir, "nation").select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("id"),
        F.concat(F.lit("r"), F.col("n_regionkey")).alias("parent_id"),
        F.col("n_name").alias("name"),
    )
    return region.unionByName(nation)


# Iterative broadcast-join loop, joined onto the customer "fact" table.
@query(
    "q_category_path",
    oracle="""
    SELECT c_custkey, r_name || '///' || n_name AS category_path
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_category_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Compiled map-literal lookup (operators.category_path
    # .category_path_lookup): the geo dim is bounded, so the path
    # attaches as ONE constant-folded projection over the fact scan —
    # no createDataFrame round-trip, no broadcast exchange. sf1 A/B vs
    # the broadcast-join spelling: 0.85 vs 0.96-1.14 s, hash-identical
    # (BASELINE.md round-6 residues; the join spelling remains
    # test-cross-checked in tests/test_category_path.py).
    path = category_path_lookup(
        _geo_dim(spark, sf_dir), F.concat(F.lit("n"), F.col("c_nationkey"))
    )
    customer = table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey", path.alias("category_path")
    ).filter(F.col("category_path").isNotNull())


# Declarative twin: Spark 4 recursive CTE vs DuckDB WITH RECURSIVE.
@query(
    "q_category_path_recursive",
    oracle="""
    WITH RECURSIVE dim AS (
      SELECT 'r' || r_regionkey AS id, CAST(NULL AS VARCHAR) AS parent_id, r_name AS name
      FROM region
      UNION ALL
      SELECT 'n' || n_nationkey, 'r' || n_regionkey, n_name FROM nation
    ), walk(id, path, ancestor, depth) AS (
      SELECT id, name, parent_id, 1 FROM dim
      UNION ALL
      SELECT w.id, c.name || '///' || w.path, c.parent_id, w.depth + 1
      FROM walk w JOIN dim c ON w.ancestor = c.id
    )
    SELECT id, arg_max(path, depth) AS category_path
    FROM walk GROUP BY id
    """,
)
def q_category_path_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_category_paths_sql(spark, _geo_dim(spark, sf_dir))
