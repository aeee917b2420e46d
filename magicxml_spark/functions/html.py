"""P17: description HTML cleaning (reference main.py:57-76).

Reference semantics: parse HTML, unwrap every tag except <p> and <br>
(keeping inner text), wrap bare top-level text in <p>...</p>.

``clean_description`` is a JVM-side regexp chain: it strips all tags
except p/br, then wraps the result in <p> if it doesn't already start
with one. That covers the product-feed cases without leaving
whole-stage codegen; markup a regexp cannot see through (malformed or
nested tags) is the known gap against a real HTML parser.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tags to keep. Everything else (open or close, with attrs) is unwrapped.
_DROP_TAG = "(?i)</?(?!p\\b|br\\b)[a-zA-Z][^>]*>"


def clean_description(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.trim(F.regexp_replace(c, _DROP_TAG, ""))
    wrapped = F.when(
        (stripped == "") | stripped.rlike("(?i)^<(p|br)\\b"),
        stripped,
    ).otherwise(F.concat(F.lit("<p>"), stripped, F.lit("</p>")))
    return F.coalesce(wrapped, F.lit(""))
