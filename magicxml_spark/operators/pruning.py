"""Column pruning for the CSV boundary (SURVEY §2.6 Q4-Q8; reference
main.py:1541-1565).

Rules, in reference order:
* Q4 static exclude list (param, delivery-options, images, offers, ...)
* Q5 data-dependent drop: columns whose values are all blank or all
  'Undefined'. The reference re-scans every column over materialized
  rows; the Spark spelling is ONE aggregate pass over all candidate
  columns at once (a single job with N count-aggregates, map-side
  combined), never N scans — SURVEY §7 hard-part (b).
* Q6 'important' keep-overrides, Q7 digit-named drop, Q8 lexicographic
  column order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magicxml_spark.functions.strings import is_digit_like, quoted_col, strip_ws

# main.py:1544-1548
EXCLUDED_COLUMNS = [
    "param",
    "param_name",
    "param_unit",
    "delivery-options",
    "delivery_options",
    "delivery_options_xml",
    "option_cost",
    "option_days",
    "option_order-before",
    "images",
    "debug_images_found",
    "offers",
]
# main.py:1549-1552
IMPORTANT_COLUMNS = [
    "Размер",
    "delivery_options@cost",
    "delivery_options@days",
    "delivery_options@order-before",
]

def select_output_columns(df: DataFrame) -> list[str]:
    """Compute the pruned, sorted output column list (Q4-Q8)."""
    candidates = [c for c in df.columns if c not in EXCLUDED_COLUMNS]
    if candidates:
        # Q5: one aggregate pass for every candidate at once
        counts = df.agg(
            *[
                F.count(
                    F.when(
                        # Python-strip parity: the reference tests
                        # val.strip(), which drops tabs/newlines too
                        strip_ws(quoted_col(c).cast("string")).isNotNull()
                        & (strip_ws(quoted_col(c).cast("string")) != "")
                        & (quoted_col(c).cast("string") != "Undefined"),
                        F.lit(1),
                    )
                ).alias(c)
                for c in candidates
            ]
        ).collect()[0]
        undefined_only = {c for c in candidates if counts[c] == 0}
    else:
        undefined_only = set()

    return [
        c
        for c in sorted(df.columns)
        if (
            c not in EXCLUDED_COLUMNS
            and c not in undefined_only
            and not is_digit_like(c)
        )
        or c in IMPORTANT_COLUMNS
    ]
