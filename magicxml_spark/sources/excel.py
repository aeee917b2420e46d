"""S7/K5: Excel source & sink (reference main.py:734, 683-718).

Excel is not a Spark-native format; the reference reads/writes it
driver-side through pandas/openpyxl with inputs capped at 100 MB, and
so do we — bounded by an explicit row limit. Two engines:

* **openpyxl/pandas** when installed — byte-for-byte the reference's
  stack (dates, formulas, multiple sheets all behave identically).
* **xlsx_lite** (pure stdlib, this repo) otherwise — the single-sheet
  string-cell subset the reference pipeline actually produces and
  consumes, written from the public ECMA-376 package structure. This
  is the path that RUNS in environments without openpyxl, so S7/K5
  are real executable operators everywhere, not gated stubs.

Both engines surface every cell as a string (the reference feeds the
result straight into its string-typed CSV/XML pipeline, main.py:745).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from magicxml_spark.sources import xlsx_lite

# Rows written to one sheet; an .xlsx sheet holds at most 1,048,576.
EXCEL_MAX_ROWS = 1_000_000


def _have_openpyxl() -> bool:
    try:
        import openpyxl  # noqa: F401

        return True
    except ImportError:
        return False


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """S7: first sheet -> string-typed DataFrame, header row = columns."""
    if _have_openpyxl():
        import pandas as pd

        pdf = pd.read_excel(path).fillna("")
        return spark.createDataFrame(pdf.astype(str))
    header, rows = xlsx_lite.read_rows(path)
    if not header:
        raise ValueError(f"Excel file has no rows: {path}")
    # StructType, not a DDL string: foreign headers may be empty cells
    # (read_rows pads ragged headers with '') or contain backticks —
    # both break DDL parsing, neither bothers a StructField name
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField(c, StringType()) for c in header])
    return spark.createDataFrame([tuple(r) for r in rows], schema)


def write_excel(df: DataFrame, path: str) -> str:
    """K5: driver-side writer with the reference's per-column
    auto-width = min(max len + 2, 50) (main.py:683-718)."""
    if _have_openpyxl():
        from openpyxl.utils import get_column_letter

        pdf = df.limit(EXCEL_MAX_ROWS).toPandas()
        with __import__("pandas").ExcelWriter(path, engine="openpyxl") as writer:
            pdf.to_excel(writer, index=False, sheet_name="Data")
            ws = writer.sheets["Data"]
            for i, col in enumerate(pdf.columns, 1):
                width = max(
                    [len(str(col))] + [len(str(v)) for v in pdf[col].head(1000)]
                )
                ws.column_dimensions[get_column_letter(i)].width = min(width + 2, 50)
        return path
    rows = [
        ["" if v is None else str(v) for v in r] for r in df.limit(EXCEL_MAX_ROWS).collect()
    ]
    return xlsx_lite.write_rows(path, list(df.columns), rows)


def excel_to_pdf(spark: SparkSession, src: str, dst: str) -> str:
    """K9 for real (main.py:1155-1170): .xlsx -> paginated PDF report,
    end-to-end executable on stdlib alone (xlsx_lite read +
    render_pdf_report write; reportlab/openpyxl take over when
    installed)."""
    from magicxml_spark.sources.binary_docs import render_pdf_report

    return render_pdf_report(
        read_excel(spark, src), dst, title=src.rsplit("/", 1)[-1]
    )
