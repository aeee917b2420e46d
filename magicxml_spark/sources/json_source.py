"""S8: JSON source with root discovery + nested flatten (reference
main.py:756-794).

Root discovery (list -> rows; dict -> first list-valued key; else a
single record) is a driver-side probe of the document head; the parse
is ``spark.read.json`` with multiLine for whole-document inputs.
``pd.json_normalize``'s dotted-name flatten is a schema-driven select.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def discover_root(sample: str) -> str | None:
    """Return the list-valued root key to explode, '' for a top-level
    array, or None for a single-record object (main.py:759-777)."""
    doc = json.loads(sample)
    if isinstance(doc, list):
        return ""
    if isinstance(doc, dict):
        for key, value in doc.items():
            if isinstance(value, list):
                return key
    return None


def flatten_structs(df: DataFrame) -> DataFrame:
    """json_normalize-style flatten: nested struct fields become
    dotted top-level columns (arrays are left intact)."""
    cols = []

    def walk(dt: T.DataType, col, prefix: str) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                walk(f.dataType, col[f.name], f"{prefix}.{f.name}" if prefix else f.name)
        else:
            cols.append(col.alias(prefix))

    for f in df.schema.fields:
        walk(f.dataType, F.col(f.name), f.name)
    return df.select(*cols)


def read_json(spark: SparkSession, path: str) -> DataFrame:
    """Read a JSON document into rows with the reference's root
    discovery, then dot-flatten nested objects."""
    with open(path, encoding="utf-8") as f:
        sample = f.read()
    root = discover_root(sample)
    df = spark.read.option("multiLine", "true").json(path)
    if root:  # dict with a list-valued key: explode that key
        row_type = df.schema[root].dataType
        if isinstance(row_type, T.ArrayType):
            df = df.select(F.explode(F.col(root)).alias("_row")).select("_row.*")
    # top-level array ('' root) and single object both already read as rows
    return flatten_structs(df)
