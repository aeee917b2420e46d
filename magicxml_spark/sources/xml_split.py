"""Empty. Every feed is read by one plain Spark XML read
(``sources.xml_source``), whatever its size. The module stays
importable because ``perfbench/run.py`` names it in ``TRACED_LAYERS``,
and its tracer imports every layer it names."""
