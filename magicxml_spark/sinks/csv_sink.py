"""K1/K2: the flagship CSV sink (reference main.py:1566-1582).

Reference format: ';' delimiter, header, QUOTE_MINIMAL with '"'->'""'
escaping, utf-8-sig (BOM), newline->space per value, size-field
'?'-strip, ROOM_TYPE/PURPOSE ', '->'///' rewrite.

One output shape: repartition(1) + driver-side rename + BOM prepend —
byte-compatible with the reference's output for bounded exports (an
explicit scalability tradeoff, SURVEY §7 hard-part (e)).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame

from magicxml_spark.functions.strings import csv_normalize_value, quoted_col


def normalize_for_csv(df: DataFrame) -> DataFrame:
    """P19 value normalization over every string column."""
    exprs = []
    for name, dtype in df.dtypes:
        if dtype == "string":
            exprs.append(csv_normalize_value(name, quoted_col(name)).alias(name))
        else:
            exprs.append(quoted_col(name))
    return df.select(*exprs)


def write_csv(df: DataFrame, path: str, order_by: str | None = None) -> str:
    """Normalize ``df`` and write it to ``path`` as one BOM-prefixed
    CSV file; returns ``path``. Column selection is the caller's; rows
    are sorted by ``order_by``, a column that is not written."""
    # repartition(1), NOT coalesce(1): coalesce would collapse the whole
    # upstream compute into one task; the shuffle boundary keeps
    # flatten/normalize parallel, only the final write serial
    out = normalize_for_csv(df).repartition(1)
    if order_by:
        out = out.sortWithinPartitions(order_by).drop(order_by)
    tmp_dir = path + "._parts"
    out.write.mode("overwrite").options(
        header=True, sep=";", quote='"', escape='"', emptyValue=""
    ).csv(tmp_dir)
    part = glob.glob(os.path.join(tmp_dir, "part-*.csv"))[0]
    with open(path, "wb") as dst:
        dst.write(b"\xef\xbb\xbf")  # utf-8-sig BOM (main.py:1566)
        with open(part, "rb") as src:
            shutil.copyfileobj(src, dst)
    shutil.rmtree(tmp_dir)
    return path
