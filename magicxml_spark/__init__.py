"""magicxml_spark — a PySpark-native analytics & format-conversion engine.

Brand-new engine (NOT a port) with the query and data-processing
capabilities of the reference repo Solrikk/MagicXML (see SURVEY.md),
re-expressed as idiomatic Spark: DataFrame/SQL plans optimized by
Catalyst, Arrow-batched pandas UDFs only where built-ins can't express
the semantics, Structured Streaming for the streaming extension.

Layout:
    session     -- SparkSession factory tuned for local[] and cluster use
    tables      -- testdata table loader (``table``) and its table names
    functions/  -- pure Column-level scalar functions (string surgery etc.)
    operators/  -- DataFrame->DataFrame operators (flatten, dedup, ...)
    sources/    -- readers: XML (4 dialects), CSV sniffing, JSON, Excel, PDF,
                   images, HTTP fetch
    sinks/      -- writers: CSV (BOM), YML/simple XML, JSON array
    plans/      -- end-to-end conversions: ``convert.convert_file``'s route
                   table over the above, and the Z-order layout key
    queries/    -- the named-query registry behind ``__spark_entry__``
    streaming/  -- Structured Streaming views of the events table
    analytics/  -- TF-IDF/PCA, dedup clustering, heuristic dependency parse
"""

__version__ = "0.1.0"

from magicxml_spark.session import get_spark  # noqa: F401
