"""K3/K4: CSV->XML sinks (reference main.py:504-619).

yandex_market: yml_catalog/shop/currencies/categories/offers document;
simple: catalog/products/product.

Spark-first split:
* Q9 dense category ids: distinct category_path -> row_number ordered
  by first appearance (deterministic spelling: min source row id —
  SURVEY §7 hard-part (f)).
* Per-offer XML fragments are built JVM-side as ONE string column
  (concat + XML escaping via built-ins) — the expensive part scales
  with the data and never touches Python.
* Document assembly (header, categories block, footer) is a bounded
  driver-side wrap; fragments stream via toLocalIterator so the full
  dataset is never resident.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# reference basic-fields whitelist (main.py:557)
YML_BASIC_FIELDS = [
    "name",
    "price",
    "oldprice",
    "currencyId",
    "vendorCode",
    "vendor",
    "description",
]


def xml_escape(c: Column) -> Column:
    c = F.regexp_replace(c, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    return c


def xml_escape_attr(c: Column) -> Column:
    return F.regexp_replace(xml_escape(c), '"', "&quot;")


def dense_category_ids(df: DataFrame) -> DataFrame:
    """Q9 (main.py:535-547): distinct non-empty category_path values get
    sequential ids 1..n. First-seen document order is not reproducible
    on a distributed scan, so first-seen = minimum scan order
    (``monotonically_increasing_id``)."""
    w = W.orderBy("first_seen")
    return (
        df.withColumn("_ord", F.monotonically_increasing_id())
        .filter(F.col("category_path").isNotNull() & (F.col("category_path") != ""))
        .groupBy("category_path")
        .agg(F.min("_ord").alias("first_seen"))
        .withColumn("category_id", F.row_number().over(w).cast("string"))
        .drop("first_seen")
    )


def _elem(tag: str, value: Column) -> Column:
    """<tag>value</tag> when value is non-empty, else ''."""
    return F.when(
        value.isNotNull() & (value != ""),
        F.concat(F.lit(f"<{tag}>"), xml_escape(value), F.lit(f"</{tag}>")),
    ).otherwise("")


def offer_fragments(df: DataFrame, category_ids: DataFrame) -> DataFrame:
    """One '<offer ...>...</offer>' string per row (K3 body)."""
    cols = set(df.columns)
    # Q10 fallback (main.py:551-552): positional 1..n in input order —
    # row_number over the scan order, deterministic for bounded exports
    # null id cells (empty CSV fields) render as id="" like the
    # reference's csv.DictReader '' values — never a null fragment
    row_id = (
        F.coalesce(F.col("id").cast("string"), F.lit(""))
        if "id" in cols
        else F.row_number()
        .over(W.orderBy(F.monotonically_increasing_id()))
        .cast("string")
    )
    parts: list[Column] = [
        F.concat(
            F.lit('<offer id="'),
            xml_escape_attr(row_id),
            F.when(
                F.col("_avail").isNotNull(),
                F.concat(F.lit('" available="'), xml_escape_attr(F.col("_avail"))),
            ).otherwise(""),
            F.lit('">'),
        )
    ]
    for field in YML_BASIC_FIELDS:
        if field in cols:
            parts.append(_elem(field, F.col(field).cast("string")))
    parts.append(_elem("categoryId", F.col("_category_id")))
    if "pictures" in cols:
        pics = F.filter(
            F.transform(F.split(F.col("pictures").cast("string"), "///"), lambda x: F.trim(x)),
            lambda x: x != "",
        )
        parts.append(
            F.coalesce(
                F.array_join(
                    F.transform(
                        pics,
                        lambda u: F.concat(F.lit("<picture>"), xml_escape(u), F.lit("</picture>")),
                    ),
                    "",
                ),
                F.lit(""),
            )
        )
    for c in sorted(cols):
        if c.startswith("param_"):
            pname = c[len("param_"):]
            parts.append(
                F.when(
                    F.col(c).isNotNull() & (F.col(c).cast("string") != ""),
                    F.concat(
                        F.lit('<param name="'),
                        xml_escape_attr(F.lit(pname)),
                        F.lit('">'),
                        xml_escape(F.col(c).cast("string")),
                        F.lit("</param>"),
                    ),
                ).otherwise("")
            )
    parts.append(F.lit("</offer>"))
    parts = [F.coalesce(p, F.lit("")) for p in parts]

    avail = F.col("available").cast("string") if "available" in cols else F.lit(None)
    base = df.withColumn("_avail", avail)
    if "category_path" in cols:
        dim = category_ids.withColumnRenamed(
            "category_path", "_cp"
        ).withColumnRenamed("category_id", "_category_id")
        base = base.join(
            F.broadcast(dim), F.col("category_path") == F.col("_cp"), "left"
        )
    else:
        base = base.withColumn("_category_id", F.lit(None).cast("string"))
    return base.select(F.concat(*parts).alias("fragment"))


def product_fragments(df: DataFrame) -> DataFrame:
    """K4 'simple' format: <product> per row, ///-pictures -> nested
    <images>, param_* -> <parameters>, key charset cleanup
    (main.py:576-599)."""
    cols = [c for c in df.columns]
    row_id = (
        F.coalesce(F.col("id").cast("string"), F.lit(""))
        if "id" in cols
        else F.row_number()
        .over(W.orderBy(F.monotonically_increasing_id()))
        .cast("string")
    )
    parts: list[Column] = [
        F.concat(F.lit('<product id="'), xml_escape_attr(row_id), F.lit('">'))
    ]
    param_parts: list[Column] = []
    for c in cols:
        if c == "id":
            continue
        v = F.col(c).cast("string")
        if c == "pictures":
            pics = F.filter(
                F.transform(F.split(v, "///"), lambda x: F.trim(x)), lambda x: x != ""
            )
            parts.append(
                F.when(
                    F.size(pics) > 0,
                    F.concat(
                        F.lit("<images>"),
                        F.array_join(
                            F.transform(
                                pics,
                                lambda u: F.concat(
                                    F.lit("<image>"), xml_escape(u), F.lit("</image>")
                                ),
                            ),
                            "",
                        ),
                        F.lit("</images>"),
                    ),
                ).otherwise(_elem("pictures", v))
            )
        elif c.startswith("param_"):
            pname = c[len("param_"):]
            param_parts.append(
                F.when(
                    v.isNotNull() & (v != ""),
                    F.concat(
                        F.lit('<parameter name="'),
                        xml_escape_attr(F.lit(pname)),
                        F.lit('">'),
                        xml_escape(v),
                        F.lit("</parameter>"),
                    ),
                ).otherwise("")
            )
        else:
            clean_tag = c.replace(" ", "_").replace("-", "_")
            parts.append(_elem(clean_tag, v))
    if param_parts:
        inner = F.concat(*param_parts)
        parts.append(
            F.when(
                inner != "", F.concat(F.lit("<parameters>"), inner, F.lit("</parameters>"))
            ).otherwise("")
        )
    parts.append(F.lit("</product>"))
    parts = [F.coalesce(p, F.lit("")) for p in parts]
    return df.select(F.concat(*parts).alias("fragment"))


# The yml_catalog shop header: fixed values, none of which needs XML
# escaping.
_YML_SHOP_HEADER = (
    '<yml_catalog date="1970-01-01 00:00"><shop>'
    "<name>Generated from CSV</name><company>MagicXML-Spark</company>"
    "<url>https://example.invalid</url>"
)


def write_yml_catalog(df: DataFrame, path: str) -> str:
    """Assemble the full yml_catalog document (K3). Bounded driver-side
    wrap; offer fragments AND category header rows stream from
    executors via toLocalIterator — a degenerate catalog whose
    category_path is unique per row (categories ~ rows) must not
    balloon the driver with a full collect of the distinct set."""
    if "category_path" in df.columns:
        cat_ids = dense_category_ids(df)
        cats = cat_ids.orderBy(F.col("category_id").cast("int"))
    else:  # no categories in the input -> empty categories block
        cat_ids = df.sparkSession.createDataFrame(
            [], "category_path string, category_id string"
        )
        cats = cat_ids
    frags = offer_fragments(df, cat_ids)

    def body(f) -> None:
        f.write("<?xml version='1.0' encoding='utf-8'?>\n")
        f.write(_YML_SHOP_HEADER)
        f.write('<currencies><currency id="RUR" rate="1"/></currencies><categories>')
        for r in cats.toLocalIterator():
            esc = (
                r["category_path"]
                .replace("&", "&amp;")
                .replace("<", "&lt;")
                .replace(">", "&gt;")
            )
            f.write(f'<category id="{r["category_id"]}">{esc}</category>')
        f.write("</categories><offers>")
        for row in frags.toLocalIterator():
            f.write(row["fragment"])
        f.write("</offers></shop></yml_catalog>")

    return _write_atomic(path, body)


def _write_atomic(path: str, body) -> str:
    """Stream a single-file document via a sibling temp file, renaming
    into place only on success. The streamed sinks evaluate their Spark
    plans WHILE writing (toLocalIterator), so a task failure mid-stream
    would otherwise leave a truncated document where a previously valid
    file stood — the failure must not destroy the prior artifact."""
    import os

    tmp = path + ".tmp"
    try:
        with open(tmp, "w", encoding="utf-8") as f:
            body(f)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return path


def write_simple_catalog(df: DataFrame, path: str) -> str:
    """Assemble the 'simple' catalog/products document (K4)."""
    frags = product_fragments(df)

    def body(f) -> None:
        f.write("<?xml version='1.0' encoding='utf-8'?>\n")
        f.write("<catalog><products>")
        for row in frags.toLocalIterator():
            f.write(row["fragment"])
        f.write("</products></catalog>")

    return _write_atomic(path, body)
