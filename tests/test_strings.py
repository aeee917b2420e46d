"""Scalar-function fidelity vs direct reimplementations of the
reference's Python (table-driven, incl. Cyrillic/quirk cases)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from magicxml_spark.functions.html import clean_description
from magicxml_spark.functions.strings import (
    decimal_comma_quirk,
    dedup_delimited,
    default_available,
    first_wins,
    md5_short_id,
    sanitize_name,
    strip_size_question,
    strip_ws,
)


def reference_sanitize(name: str) -> str:
    # main.py:79-85 reimplemented for the oracle
    if not name:
        return ""
    s = re.sub(r'[^\w\s\-\(\)\[\]\/\\,\.;:!?\'"«»„““”`~@#$%^&*+=<>|№°]', "", name)
    s = re.sub(r"\s+", " ", s)
    s = re.sub(r"\(\s*([^)]+)\s*\)", r"(\1)", s)
    return s.strip()


def reference_dedup(value: str, delimiter: str = "///") -> str:
    if not value:
        return ""
    items = [i.strip() for i in value.split(delimiter) if i.strip()]
    uniq = []
    for i in items:
        if i not in uniq:
            uniq.append(i)
    return delimiter.join(uniq)


def _run(spark, expr, values, in_type="string"):
    df = spark.createDataFrame([(v,) for v in values], schema=f"v {in_type}")
    return [r[0] for r in df.select(expr.alias("out")).collect()]


SANITIZE_CASES = [
    "Диван «Мечта» ( большой )",
    "  spaces   everywhere  ",
    "™trade®mark",
    "keep -()[]/\\,.;:!?'\"«»`~@#$%^&*+=<>|№°",
    "(  inner  )",
    "смешанный Текст-123 (тест)",
    "",
]


def test_sanitize_name_matches_reference(spark):
    got = _run(spark, sanitize_name(F.col("v")), SANITIZE_CASES)
    want = [reference_sanitize(v) for v in SANITIZE_CASES]
    assert got == want


DEDUP_CASES = [
    "a///b///a///c",
    " a /// b///a ///",
    "x",
    "",
    "///",
    "a///a///a",
]


def test_dedup_delimited_matches_reference(spark):
    got = _run(spark, dedup_delimited(F.col("v")), DEDUP_CASES)
    want = [reference_dedup(v) for v in DEDUP_CASES]
    assert got == want


def test_decimal_comma_tests_the_tag_not_value(spark):
    df = spark.createDataFrame(
        [("12", "3.14"), ("12.5", "2.71"), ("price", "9.99"), (".5", "1.23")],
        schema="tag string, val string",
    )
    got = [
        tuple(r)
        for r in df.select(
            "tag", decimal_comma_quirk(F.col("tag"), F.col("val")).alias("out")
        ).collect()
    ]
    assert got == [("12", "3,14"), ("12.5", "2,71"), ("price", "9.99"), (".5", "1,23")]


def test_strip_size_question(spark):
    df = spark.createDataFrame(
        [
            ("Размер", "?42"),
            ("size_eu", "40 ?"),
            ("color", "?red"),  # '?' but no digit -> untouched
            ("color", "?4x"),  # '?' + digit -> stripped
            ("weight", "12kg"),
        ],
        schema="k string, v string",
    )
    got = [r[0] for r in df.select(strip_size_question(F.col("k"), F.col("v"))).collect()]
    assert got == ["42", "40", "?red", "4x", "12kg"]


def test_defaults_and_first_wins(spark):
    df = spark.createDataFrame(
        [("", "x"), (None, "y"), ("0", "z"), ("Undefined", "w")],
        schema="a string, b string",
    )
    avail = [r[0] for r in df.select(default_available(F.col("a"))).collect()]
    assert avail == ["1", "1", "0", "Undefined"]  # P18 only fills missing/empty
    picks = [r[0] for r in df.select(first_wins(F.col("a"), F.col("b"))).collect()]
    assert picks == ["x", "y", "0", "w"]


def test_md5_short_id(spark):
    import hashlib

    got = _run(spark, md5_short_id(F.col("v")), ["10.0.0.1"])
    assert got == [hashlib.md5(b"10.0.0.1").hexdigest()[:8]]


HTML_CASES = [
    ("<div><b>text</b></div>", "<p>text</p>"),
    ("plain text", "<p>plain text</p>"),
    ("<p>already</p>", "<p>already</p>"),
    ("a<br/>b", "<p>a<br/>b</p>"),
    ("", ""),
    (None, ""),
]


def test_clean_description_fast_path(spark):
    got = _run(spark, clean_description(F.col("v")), [c[0] for c in HTML_CASES])
    assert got == [c[1] for c in HTML_CASES]


@pytest.mark.parametrize("value", DEDUP_CASES)
def test_dedup_idempotent(spark, value):
    once = reference_dedup(value)
    df = spark.createDataFrame([(once,)], schema="v string")
    twice = df.select(dedup_delimited(F.col("v"))).collect()[0][0]
    assert twice == once


def test_strip_ws_python_parity(spark):
    """strip_ws must equal Python str.strip() for every char str.strip()
    removes — ASCII whitespace, \\x1c-\\x1f/\\x85 controls, and all of
    Unicode category Z — and must NOT remove non-space chars Python
    keeps (e.g. ZWSP \\u200b, which isspace() rejects)."""
    ws_chars = [
        "\t", "\n", "\x0b", "\x0c", "\r", " ",
        "\x1c", "\x1d", "\x1e", "\x1f", "\x85",
        "\xa0", " ", " ", " ", " ",
        " ", " ", " ", " ", "　",
    ]
    keep_chars = ["​", "⁠", "a", "."]  # not Python whitespace
    samples = [f"{c}x{c}y{c}" for c in ws_chars + keep_chars]
    samples += ["", "  ", "　\xa0\t", "plain"]
    for s in samples:
        assert s.strip() == s.strip()  # sanity: Python side defined
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r["t"] for r in df.select(strip_ws("s").alias("t")).collect()]
    expected = [s.strip() for s in samples]
    assert got == expected
