"""String-surgery scalar functions (SURVEY.md §2.3 P4, P9-P12, P18, P19, Q17).

Each function reproduces the observable semantics of the reference
(file:line cites are into /root/reference/) as a Spark Column
expression — JVM-evaluated, codegen-friendly, no Python UDFs.

Fidelity quirks are replicated deliberately and called out per function.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def quoted_col(name: str) -> Column:
    """A column by its exact name: backtick-quoted, since flattened
    column names may contain '.', '-' etc."""
    return F.col("`" + name.replace("`", "") + "`")


# --- Python-strip parity --------------------------------------------------
# The reference strips with str.strip() — every char for which Python's
# str.isspace() is true: ASCII \t\n\v\f\r and space (Java \s), the
# C1/format controls \x1c-\x1f and \x85 (bidi B/S/WS), and the Unicode
# separators category Z (Zs spaces incl. \xa0 and 　, Zl  ,
# Zp  ). Spark's F.trim removes only ' ' (0x20) and Java \s is
# ASCII-only, so every place the reference calls .strip() uses this
# class instead — exact Python parity (pinned by
# tests/test_strings.py::test_strip_ws_python_parity).

_PY_WS_CLASS = "[\\s\\u001C-\\u001F\\u0085\\p{Z}]"


def strip_ws(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, f"^{_PY_WS_CLASS}+|{_PY_WS_CLASS}+$", "")


# --- P4: order-preserving dedup of '///'-delimited pseudo-arrays ---------
# Reference: remove_duplicates_from_delimited_string, main.py:87-95.
# Split, trim each item, drop empties, keep first occurrence, re-join.
# Spark's array_distinct preserves first-occurrence order, matching the
# reference's manual "append if unseen" loop.


def distinct_join(items: Column) -> Column:
    """P4 over an array: strip each item, drop the empty ones, keep each
    first occurrence, join on "///"; null when nothing is left."""
    # NB: lambda must be single-arg — passing F.trim directly binds its
    # optional second parameter to the array index.
    cleaned = F.filter(F.transform(items, lambda x: strip_ws(x)), lambda x: x != F.lit(""))
    return F.nullif(F.array_join(F.array_distinct(cleaned), "///"), F.lit(""))


def dedup_delimited(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # split() takes a Java regex; "///" has no metacharacter
    return F.coalesce(distinct_join(F.split(c, "///")), F.lit(""))


# --- P10: sanitize_name ---------------------------------------------------
# Reference: main.py:79-85. Three passes: (1) strip everything outside a
# whitelist of word chars / whitespace / listed punctuation, (2) collapse
# whitespace runs, (3) trim spaces just inside parentheses. Quirk kept:
# the paren pass pattern `\(\s*([^)]+)\s*\)` captures trailing spaces into
# the group (greedy [^)]+), so "( padded )" -> "(padded )" — but pass (2)
# has already collapsed runs, so at most one inner space survives.
#
# The reference uses Python `\w` (Unicode-aware: Cyrillic letters pass).
# Java regex `\w` is ASCII-only, so we spell the Unicode classes
# explicitly with \p{L}\p{N} — same accepted alphabet.

_SANITIZE_WHITELIST = (
    "[^\\p{L}\\p{N}_\\s\\-\\(\\)\\[\\]/\\\\,\\.;:!\\?'\"«»„“”`~@#\\$%\\^&\\*\\+=<>\\|№°]"
)


def sanitize_name(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c, _SANITIZE_WHITELIST, "")
    s = F.regexp_replace(s, "\\s+", " ")
    s = F.regexp_replace(s, "\\(\\s*([^)]+)\\s*\\)", "($1)")
    return F.coalesce(F.trim(s), F.lit(""))


# --- P9: decimal-comma rewrite -------------------------------------------
# Reference: main.py:190-192. Quirk kept EXACTLY: the digit-likeness test
# is applied to the TAG NAME, not the value (`child.tag.replace('.', '',
# 1).isdigit()`). "Digit-like" = after removing the first '.', the string
# is non-empty all-digits: regex ^(\d+\.?\d*|\.\d+)$ (no lookahead, so the
# same pattern runs on RE2/DuckDB for the oracle). The flatten's P9
# transform, its P14 param-key drop and the pruner's Q7 column drop test
# a Python-side name with the same pattern (``is_digit_like``).

_DIGIT_LIKE = "^([0-9]+\\.?[0-9]*|\\.[0-9]+)$"


def is_digit_like(name: str) -> bool:
    return re.fullmatch(_DIGIT_LIKE, name) is not None


def decimal_comma_quirk(tag: Column | str, value: Column | str) -> Column:
    t = F.col(tag) if isinstance(tag, str) else tag
    v = F.col(value) if isinstance(value, str) else value
    return F.when(t.rlike(_DIGIT_LIKE), F.regexp_replace(v, "\\.", ",")).otherwise(v)


# --- P11: size '?'-strip --------------------------------------------------
# Reference: main.py:252-256 (params), 273-277 (param_name_*),
# 1576-1577 (CSV sink). Condition: key mentions размер/size
# (case-insensitive), OR the value contains '?' AND contains a digit
# (the reference's `val.replace('?','').strip().isdigit() or
# any(c.isdigit() ...)` — the first arm implies the second for non-empty
# strings, so "contains a digit" is the faithful simplification).
# Action: drop all '?' and trim.


def strip_size_question(key: Column | str, value: Column | str) -> Column:
    k = F.col(key) if isinstance(key, str) else key
    v = F.col(value) if isinstance(value, str) else value
    key_is_sizeish = F.lower(k).contains("размер") | F.lower(k).contains("size")
    val_hits = v.contains("?") & v.rlike("[0-9]")
    stripped = strip_ws(F.regexp_replace(v, "\\?", ""))
    return F.when(key_is_sizeish | val_hits, stripped).otherwise(v)


# --- P12: first-wins default fill ----------------------------------------
# Reference: main.py:198-199 — a value only overwrites a previous one if
# that previous value is empty or 'Undefined'. As a column expression:
# coalesce over candidates with ''/'Undefined' treated as missing.


def first_wins(*cols: Column | str) -> Column:
    normed = [
        F.nullif(F.nullif(F.col(c) if isinstance(c, str) else c, F.lit("")), F.lit("Undefined"))
        for c in cols
    ]
    return F.coalesce(*normed, F.lit(""))


# --- P18: 'available' default --------------------------------------------
# Reference: main.py:322-323 — missing OR falsy (empty string) -> '1'.


def default_available(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull() | (c == ""), F.lit("1")).otherwise(c)


# --- P19: CSV value normalization ----------------------------------------
# Reference: main.py:1571-1581. Per-value: size-ish field names get the
# '?'-strip; ROOM_TYPE/PURPOSE rewrite ', ' -> '///'; newlines -> space;
# trim. (Quote doubling `"`->`""` is the CSV writer's job in Spark —
# df.write.csv quotes correctly — so it is NOT applied to the value.)


def csv_normalize_value(field_name: str, value: Column | str) -> Column:
    v = F.col(value) if isinstance(value, str) else value
    low = field_name.lower()
    if "размер" in low or "size" in low or field_name == "Размер":
        v = F.trim(F.regexp_replace(v, "\\?", ""))
    if field_name in ("ROOM_TYPE", "PURPOSE"):
        v = F.regexp_replace(v, ", ", "///")
    v = F.regexp_replace(v, "[\\n\\r]", " ")
    return strip_ws(v)


# --- Q17: md5 short id ----------------------------------------------------
# Reference: main.py:1767-1768 — first 8 hex chars of md5.


def md5_short_id(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c.cast("string")), 1, 8)
