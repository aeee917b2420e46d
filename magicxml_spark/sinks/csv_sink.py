"""K1/K2: the flagship CSV sink (reference main.py:1566-1582).

Reference format: ';' delimiter, header, QUOTE_MINIMAL with '"'->'""'
escaping, utf-8-sig (BOM), newline->space per value, size-field
'?'-strip, ROOM_TYPE/PURPOSE ', '->'///' rewrite.

One output shape: every row, and the BOM-prefixed header, is rendered
by ``to_csv`` into one text line; Spark's text writer writes the lines
as one part file, which is renamed to the target path. Each byte is
written once. The single partition is byte-compatible with the
reference's output for bounded exports (an explicit scalability
tradeoff, SURVEY §7 hard-part (e)).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magicxml_spark.functions.strings import csv_normalize_value, quoted_col

_CSV_OPTIONS = {"sep": ";", "quote": '"', "escape": '"', "emptyValue": ""}


def _csv_line(values: list[Column]) -> Column:
    return F.to_csv(F.struct(*values), _CSV_OPTIONS)


def write_csv(df: DataFrame, path: str, order_by: str | None = None) -> str:
    """Normalize ``df`` and write it to ``path`` as one BOM-prefixed
    CSV file; returns ``path``. Column selection is the caller's; rows
    are sorted by ``order_by``, a column that is not written, or else
    kept in input order."""
    cols = [c for c in df.columns if c != order_by]
    types = dict(df.dtypes)
    values = [  # P19 value normalization over every string column
        csv_normalize_value(c, quoted_col(c)) if types[c] == "string" else quoted_col(c)
        for c in cols
    ]
    key = quoted_col(order_by) if order_by else F.monotonically_increasing_id()
    rows = df.select(_csv_line(values).alias("value"), key.alias("key"))
    # the header is one more line, behind the utf-8-sig BOM (main.py:1566)
    # and keyed null so that it sorts first
    header = df.sparkSession.range(1).select(
        F.concat(F.lit("\ufeff"), _csv_line([F.lit(c) for c in cols])).alias("value"),
        F.lit(None).alias("key"),
    )
    # repartition(1), NOT coalesce(1): coalesce would collapse the whole
    # upstream compute into one task; the shuffle boundary keeps
    # flatten/normalize/render parallel, only the final write serial
    lines = header.union(rows).repartition(1).sortWithinPartitions("key").select("value")
    tmp_dir = path + "._parts"
    lines.write.mode("overwrite").text(tmp_dir)
    (part,) = glob.glob(os.path.join(tmp_dir, "part-*"))
    os.replace(part, path)
    shutil.rmtree(tmp_dir)
    return path
