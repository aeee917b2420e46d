"""Z-order layout: multi-dimensional file skipping (plans/layout.py)."""

from __future__ import annotations


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """The point of the z-curve: per-file min-max stats prune on EITHER
    interleaved dimension, while 1-D range layout prunes only its own
    sort column and round-robin layout prunes nothing."""
    import glob as _glob

    from pyspark.sql import functions as F

    from magicxml_spark.plans.layout import zorder_key

    n, n_files = 100_000, 16
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % 1000003 % 1000).alias("x"),
        ((F.col("id") * 40503) % 999983 % 1000).alias("y"),
    )

    paths = {k: str(tmp_path / k) for k in ("rr", "rx", "zo")}
    df.repartition(n_files).write.parquet(paths["rr"])
    df.repartitionByRange(n_files, "x").sortWithinPartitions("x").write.parquet(
        paths["rx"]
    )
    zorder_key(df, "x", "y").repartitionByRange(n_files, "zkey").sortWithinPartitions(
        "zkey"
    ).drop("zkey").write.parquet(paths["zo"])

    def overlapping(path: str, xr, yr) -> int:
        hit = 0
        for f in _glob.glob(path + "/part-*.parquet"):
            st = (
                spark.read.parquet(f)
                .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
                .collect()[0]
            )
            if st[0] is None:
                continue
            if xr and (st[1] < xr[0] or st[0] > xr[1]):
                continue
            if yr and (st[3] < yr[0] or st[2] > yr[1]):
                continue
            hit += 1
        return hit

    box_x, box_y = (100, 199), (100, 199)
    # round-robin: every file spans everything -> zero skipping
    assert overlapping(paths["rr"], box_x, box_y) == n_files
    # range-by-x: prunes the x predicate well...
    assert overlapping(paths["rx"], box_x, None) <= 3
    # ...but a y-only predicate reads EVERY file
    assert overlapping(paths["rx"], None, box_y) == n_files
    # z-order: both single-dimension predicates skip most files
    zx = overlapping(paths["zo"], box_x, None)
    zy = overlapping(paths["zo"], None, box_y)
    assert zx <= n_files // 2 and zy <= n_files // 2, (zx, zy)
    # and the conjunctive box touches only the curve's corner region
    assert overlapping(paths["zo"], box_x, box_y) <= 4
