"""K6/K7: JSON sinks (reference main.py:809-883).

K6 'array' format: a JSON array of row objects.
K7 XML->JSON document conversion: @attr / #text conventions with
repeated tags promoted to lists — the Spark spelling is a rename pass
over the XML reader's struct (attrs are '_'-prefixed, text is _VALUE)
followed by to_json; ``write_json_documents`` writes the documents as
one JSON array.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _write_array(docs, path: str) -> str:
    with open(path, "w", encoding="utf-8") as f:
        f.write("[")
        first = True
        for doc in docs:
            if not first:
                f.write(",")
            f.write(doc)
            first = False
        f.write("]")
    return path


def write_json_array(df: DataFrame, path: str) -> str:
    """K6 'array': one JSON array document (bounded; streams rows)."""
    return _write_array(df.toJSON().toLocalIterator(), path)


def write_json_documents(df: DataFrame, path: str) -> str:
    """K7: one JSON array of the documents in ``df``'s single JSON-string
    column (``xml_records_to_json`` output; bounded; streams rows)."""
    return _write_array((row[0] for row in df.toLocalIterator()), path)


def xml_struct_to_json_conventions(dt: T.DataType, c: Column) -> Column:
    """K7 (main.py:841-862): rebuild a struct column with '@' attribute
    prefixes and '#text' for element text; repeated tags are already
    lists in the reader's schema."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            sub = xml_struct_to_json_conventions(f.dataType, c[f.name])
            if f.name.startswith("_") and f.name != "_VALUE":
                fields.append(sub.alias("@" + f.name[1:]))
            elif f.name == "_VALUE":
                fields.append(sub.alias("#text"))
            else:
                fields.append(sub.alias(f.name))
        return F.struct(*fields)
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, (T.StructType, T.ArrayType)):
            return F.transform(
                c, lambda e: xml_struct_to_json_conventions(dt.elementType, e)
            )
        return c
    return c


def xml_records_to_json(df: DataFrame) -> DataFrame:
    """K7: one JSON document string per XML record."""
    converted = xml_struct_to_json_conventions(
        T.StructType(df.schema.fields), F.struct(*[F.col(f.name) for f in df.schema.fields])
    )
    return df.select(F.to_json(converted).alias("json"))
