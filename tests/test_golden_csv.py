"""Byte-identity of ``xml_to_csv`` against checked-in CSVs.

``fixtures/golden/*.csv`` hold the exact bytes the converter wrote for
each fixture feed when they were checked in. A rewrite of a flatten
rule, the pruning or the sink that changes a single byte fails here,
whatever the per-column assertions elsewhere still accept. A deliberate
output change regenerates the affected file and says why."""

from __future__ import annotations

import os
import shutil

import pytest

from magicxml_spark.plans.convert import xml_to_csv

FIX = os.path.join(os.path.dirname(__file__), "fixtures")

CASES = [
    ("cat.xml", None),
    ("products.xml", None),  # auto-detects as offer: a nested <offer> exists
    ("products.xml", "product"),
    ("c1.xml", None),
    ("svc.xml", None),
    ("nested.xml", None),
]


@pytest.mark.parametrize("name,dialect", CASES)
def test_xml_to_csv_matches_golden_bytes(spark, tmp_path, name, dialect):
    src = tmp_path / name  # a fresh copy: converted, never copied from a cache
    shutil.copyfile(os.path.join(FIX, name), src)
    out = xml_to_csv(spark, str(src), str(tmp_path / "out.csv"), dialect)
    golden = name[:-4] + (f"-{dialect}" if dialect else "") + ".csv"
    with open(os.path.join(FIX, "golden", golden), "rb") as f:
        expected = f.read()
    with open(out, "rb") as f:
        assert f.read() == expected
