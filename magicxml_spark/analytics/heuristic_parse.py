"""Heuristic dependency parse — the declarative arm of A5.

The reference's parse (assets/SpaCy Dependency Visualization/
main.py:44-47) needs the en_core_web_sm model, which this environment
cannot install. This module is the model-free analog of the engine's
other linguistic heuristics (lang_id's marker sets, quality_score's
ratios): a RULE-BASED part-of-speech tagger (closed-class lexicons +
suffix/shape rules) and a deterministic head-attachment scheme (first
verb/aux is the root; nominals before it are subjects, after it
objects; determiners attach to the next nominal; prepositions take the
following nominal as pobj). Crude linguistics, real structure — every
token gets a defensible (pos, dep, head) triple, unlike the md5 stub.

The entire parse is CASE expressions + window functions — no UDF, no
Python in the loop — which buys two things at once: whole-stage
codegen at 100 TB, and a DuckDB oracle that shares the RULE TEXT
itself (the SQL fragments below are used verbatim by both engines;
only tokenization differs by dialect), so the parse is on the
hard correctness gate.

Plan shape: one projection (tokenize + posexplode), one POS
projection, then a single window family over (doc, index) — every
window shares the partition key, so Catalyst plans ONE exchange for
the whole attachment step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DET_WORDS = ["the", "a", "an", "this", "that", "these", "those"]
ADP_WORDS = [
    "in", "on", "of", "to", "with", "at", "by", "from", "for",
    "over", "under", "into", "about", "after", "before",
]
PRON_WORDS = [
    "i", "you", "he", "she", "it", "we", "they",
    "me", "him", "her", "us", "them",
]
AUX_WORDS = [
    "is", "am", "are", "was", "were", "be", "been", "being",
    "has", "have", "had", "do", "does", "did",
    "will", "would", "can", "could", "shall", "should", "may", "might", "must",
]
CCONJ_WORDS = ["and", "or", "but", "nor", "so", "yet"]
VERB_WORDS = [
    "say", "said", "run", "ran", "go", "went", "make", "made",
    "see", "saw", "take", "took", "get", "got", "sat", "sit",
]


def _in_list(words: list[str]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


def pos_case_sql(token_expr: str, idx_expr: str, regexp_fn: str = "regexp_like") -> str:
    """The POS rule cascade — ONE SQL text evaluated by both engines.
    Order matters: closed classes, shape, suffixes, sentence-medial
    capitalization, then the NOUN default. ``regexp_fn`` is the only
    dialect split: Spark spells partial-regex-match ``regexp_like``,
    DuckDB ``regexp_matches`` (identical semantics with anchors)."""
    lt = f"lower({token_expr})"
    return f"""CASE
        WHEN {lt} IN {_in_list(DET_WORDS)} THEN 'DET'
        WHEN {lt} IN {_in_list(ADP_WORDS)} THEN 'ADP'
        WHEN {lt} IN {_in_list(PRON_WORDS)} THEN 'PRON'
        WHEN {lt} IN {_in_list(AUX_WORDS)} THEN 'AUX'
        WHEN {lt} IN {_in_list(CCONJ_WORDS)} THEN 'CCONJ'
        WHEN {lt} IN {_in_list(VERB_WORDS)} THEN 'VERB'
        WHEN {regexp_fn}({lt}, '^[0-9]+([.][0-9]+)?$') THEN 'NUM'
        WHEN {lt} LIKE '%ly' AND length({lt}) > 3 THEN 'ADV'
        WHEN ({lt} LIKE '%ing' OR {lt} LIKE '%ed') AND length({lt}) > 4 THEN 'VERB'
        WHEN substr({token_expr}, 1, 1) BETWEEN 'A' AND 'Z' AND {idx_expr} > 0 THEN 'PROPN'
        ELSE 'NOUN'
    END"""


#: window fragments over a relation with (doc_id, token_index, pos) —
#: shared text, both dialects support identical window syntax.
_W = "PARTITION BY doc_id"
_WO = f"{_W} ORDER BY token_index"
ROOT_IDX_SQL = (
    "coalesce(min(CASE WHEN pos IN ('VERB', 'AUX') THEN token_index END) "
    f"OVER ({_W}), 0)"
)
NEXT_NOMINAL_SQL = (
    "min(CASE WHEN pos IN ('NOUN', 'PROPN', 'PRON', 'NUM') THEN token_index END) "
    f"OVER ({_WO} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
)
PREV_NON_DET_SQL = (
    "max(CASE WHEN pos <> 'DET' THEN token_index END) "
    f"OVER ({_WO} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
)
PREV_ADP_SQL = (
    "max(CASE WHEN pos = 'ADP' THEN token_index END) "
    f"OVER ({_WO} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
)

#: dep + head from (pos, token_index, _root, _nxt, _pnd, _padp) —
#: shared text. A nominal after the root is a pobj of the nearest
#: preceding ADP when nothing but determiners intervenes (tracked as
#: "the latest non-DET token IS that ADP"), else the root's obj.
DEP_CASE_SQL = """CASE
    WHEN token_index = _root THEN 'ROOT'
    WHEN pos = 'DET' THEN CASE WHEN _nxt IS NOT NULL THEN 'det' ELSE 'dep' END
    WHEN pos = 'ADP' THEN 'prep'
    WHEN pos = 'AUX' THEN 'aux'
    WHEN pos = 'CCONJ' THEN 'cc'
    WHEN pos = 'ADV' THEN 'advmod'
    WHEN pos = 'VERB' THEN 'conj'
    WHEN pos IN ('NOUN', 'PROPN', 'PRON', 'NUM') THEN
        CASE WHEN token_index < _root THEN 'nsubj'
             WHEN _pnd IS NOT NULL AND _pnd = _padp THEN 'pobj'
             ELSE 'obj' END
    ELSE 'dep'
END"""
HEAD_CASE_SQL = """CASE
    WHEN token_index = _root THEN _root
    WHEN pos = 'DET' THEN coalesce(_nxt, _root)
    WHEN pos IN ('NOUN', 'PROPN', 'PRON', 'NUM')
         AND token_index > _root AND _pnd IS NOT NULL AND _pnd = _padp THEN _pnd
    ELSE _root
END"""


def heuristic_dependency_parse(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, token_index, token, pos, dep, head_index) — one row per
    whitespace token."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(F.split(F.col(text_col), "\\s+"), lambda t: t != F.lit(""))
        ).alias("token_index", "token"),
    )
    tagged = toks.withColumn(
        "pos", F.expr(pos_case_sql("token", "token_index", "regexp_like"))
    )
    ctx = tagged.select(
        "doc_id",
        "token_index",
        "token",
        "pos",
        F.expr(ROOT_IDX_SQL).alias("_root"),
        F.expr(NEXT_NOMINAL_SQL).alias("_nxt"),
        F.expr(PREV_NON_DET_SQL).alias("_pnd"),
        F.expr(PREV_ADP_SQL).alias("_padp"),
    )
    return ctx.select(
        "doc_id",
        F.col("token_index").cast("int").alias("token_index"),
        "token",
        "pos",
        F.expr(DEP_CASE_SQL).alias("dep"),
        F.expr(HEAD_CASE_SQL).cast("int").alias("head_index"),
    )


def heuristic_parse_oracle_sql() -> str:
    """DuckDB twin over the documents table: dialect-specific
    tokenization (range + 1-based list index), then the SHARED rule
    fragments verbatim. ``doc_id % 17 = 0`` mirrors the gate query's
    subsample (token-level output is per-token rows; the sample keeps
    the compared frame a few thousand rows)."""
    return f"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
               FROM documents WHERE doc_id % 17 = 0),
    ix AS (SELECT doc_id, w, unnest(range(0, len(w))) AS token_index FROM w),
    tok AS (SELECT doc_id, CAST(token_index AS INTEGER) AS token_index,
                   w[token_index + 1] AS token
            FROM ix),
    tagged AS (SELECT doc_id, token_index, token,
                      {pos_case_sql('token', 'token_index', 'regexp_matches')} AS pos
               FROM tok),
    ctx AS (SELECT doc_id, token_index, token, pos,
                   {ROOT_IDX_SQL} AS _root,
                   {NEXT_NOMINAL_SQL} AS _nxt,
                   {PREV_NON_DET_SQL} AS _pnd,
                   {PREV_ADP_SQL} AS _padp
            FROM tagged)
    SELECT doc_id, token_index, token, pos,
           {DEP_CASE_SQL} AS dep,
           CAST({HEAD_CASE_SQL} AS INTEGER) AS head_index
    FROM ctx
    """
