"""Boilerplate removal — the jusText paragraph-classification recipe
(Pomikalek 2011, "Removing boilerplate and duplicate content from web
corpora", ch. 4) adapted to the plain-text corpus this engine curates.

Context-free pass (per paragraph):
* a copyright marker (the (c) symbol or the word "copyright") -> bad
* shorter than ``length_low`` chars -> short (blank -> bad)
* stopword density >= ``stopwords_high`` -> good when longer than
  ``length_high`` chars, else near-good
* density >= ``stopwords_low`` -> near-good, below -> bad

Context-sensitive pass (the paper's smoothing, where classification
quality comes from): short and near-good paragraphs take their final
class from the nearest context-free good/bad neighbors — near-good
needs ONE good neighbor, short needs BOTH (document edges count as
bad, the paper's header/footer prior).

Documented deviations from the published algorithm (plain text, not
HTML): link density and markup-derived features do not exist here, so
those tests are omitted; the stopword list is a compact public
English function-word list rather than jusText's full per-language
lists (the DENSITY MECHANICS are what this implements — swap the list
for a real deployment).

Scale shape: everything is per-document array arithmetic inside ONE
projection — split, classify, smooth, reassemble — zero shuffles,
zero joins, zero UDFs. The context pass is two O(P) aggregate scans
(nearest-full-neighbor arrays), NOT an index transform slicing the
classification array: lambda expressions are interpreted without
subexpression elimination, so the slicing spelling re-tokenizes every
paragraph per index — measured 114 s -> 3.3 s at sf1 forced (0.60x vs
DuckDB; BASELINE.md round 9)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magicxml_spark.operators.text import tokens as _words

# Compact English function-word list (public-domain stopword set; the
# density thresholds below are the paper's defaults for full lists —
# callers tune them when swapping lists).
JUSTEXT_STOPWORDS = [
    "the", "a", "an", "and", "or", "but", "if", "then", "of", "to",
    "in", "on", "at", "by", "for", "with", "from", "as", "is", "are",
    "was", "were", "be", "been", "it", "its", "this", "that", "these",
    "those", "he", "she", "they", "we", "you", "i", "not", "no", "so",
    "do", "does", "did", "have", "has", "had", "will", "would", "can",
    "could", "there", "their",
]

STOPWORDS_LOW = 0.30
STOPWORDS_HIGH = 0.32
LENGTH_LOW = 70
LENGTH_HIGH = 200

# Per-language function-word lists (public high-frequency words; the
# paper ships one list per language and the LIST is the knob — the
# density mechanics never change). Keys match lang_id output codes
# (operators/langid.py), so `lang_id -> justext(lang_col=...)` is the
# langid->extract stage of a multilingual pipeline. The en list is the
# original compact set; de/fr/es/ru are the same class of words for
# the languages the synthetic corpus labels plus the reference's
# Cyrillic dialect.
JUSTEXT_STOPWORDS_BY_LANG: dict[str, list[str]] = {
    # en assigned below (the module-level list predates the map)
    "de": [
        "der", "die", "das", "den", "dem", "des", "und", "ist",
        "nicht", "mit", "ein", "eine", "einen", "einem", "einer",
        "zu", "von", "auf", "sich", "auch", "werden", "oder", "aber",
        "wie", "für", "an", "in", "dass", "er", "sie", "es", "wir",
        "ich", "du", "man", "bei", "nach", "aus", "wenn", "nur",
        "noch", "schon", "kann", "hat", "war", "sind",
    ],
    "fr": [
        "le", "la", "les", "des", "de", "du", "un", "une", "et",
        "est", "dans", "que", "qui", "pas", "pour", "sur", "avec",
        "au", "aux", "ce", "cette", "ces", "mais", "ne", "se", "son",
        "sa", "ses", "il", "elle", "ils", "elles", "nous", "vous",
        "je", "tu", "on", "plus", "être", "avoir", "fait", "comme",
        "si", "tout",
    ],
    "es": [
        "el", "la", "los", "las", "un", "una", "unos", "unas", "es",
        "de", "del", "que", "y", "en", "para", "por", "con", "su",
        "sus", "se", "al", "como", "más", "pero", "lo", "si", "no",
        "nos", "ya", "este", "esta", "estos", "estas", "él", "ella",
        "ellos", "son", "fue", "ser", "hay", "todo",
    ],
    "ru": [
        "и", "в", "не", "на", "что", "с", "по", "как", "это", "он",
        "она", "оно", "они", "его", "её", "но", "из", "у", "за",
        "то", "же", "бы", "для", "о", "от", "при", "был", "была",
        "были", "есть", "только", "уже", "или", "если", "когда",
        "мы", "вы", "я", "ты", "так", "вот",
    ],
}
JUSTEXT_STOPWORDS_BY_LANG["en"] = JUSTEXT_STOPWORDS


def _para_class(p: Column, stopword_member) -> Column:
    """Context-free jusText class of one paragraph string;
    ``stopword_member`` maps a token Column to a boolean membership
    Column (a plain list membership, or a per-document CASE over a
    language column)."""
    words = _words(p)
    n_words = F.size(words)
    stops = F.size(F.filter(words, stopword_member))
    density = stops.cast("double") / n_words.cast("double")
    has_copyright = F.lower(p).contains("copyright") | p.contains("©")
    return (
        F.when(has_copyright, "bad")
        .when(n_words == 0, "bad")
        .when(F.length(p) < LENGTH_LOW, "short")
        .when(
            density >= STOPWORDS_HIGH,
            F.when(F.length(p) > LENGTH_HIGH, "good").otherwise("neargood"),
        )
        .when(density >= STOPWORDS_LOW, "neargood")
        .otherwise("bad")
    )


def justext_boilerplate(
    df: DataFrame,
    lang_col: str | None = None,
) -> DataFrame:
    """Per-document boilerplate removal. Output:
    (id, n_paras, n_good, main_frac, text_main) — ``text_main`` is the
    final-good paragraphs re-joined with blank lines (empty when
    nothing survives), ``main_frac`` the surviving char fraction (4 dp).

    Without ``lang_col`` every document uses JUSTEXT_STOPWORDS.
    ``lang_col`` selects PER-LANGUAGE stopword lists (the paper's
    multilingual deployment): JUSTEXT_STOPWORDS_BY_LANG, keyed by
    lang_id output codes, and the membership test becomes a
    per-document CASE on ``lang_col``.
    Documents whose language has no list get zero stopword density
    (everything classifies short/bad — jusText cannot run without a
    list; gate on lang_id upstream)."""
    import re

    if lang_col is not None:

        def member(tok: Column) -> Column:
            e = None
            for lang, words in sorted(JUSTEXT_STOPWORDS_BY_LANG.items()):
                cond = F.col(lang_col) == lang
                e = (
                    F.when(cond, tok.isin(words))
                    if e is None
                    else e.when(cond, tok.isin(words))
                )
            return e.otherwise(F.lit(False))

    else:

        def member(tok: Column) -> Column:
            return tok.isin(JUSTEXT_STOPWORDS)

    paras = F.split(F.col("text"), re.escape("\n\n"), -1)
    cls0 = F.transform(paras, lambda p: _para_class(p, member))

    # Nearest context-free full (good/bad) class before/after each
    # index; document edges read as 'bad' (the paper's boundary
    # prior). Spelled as ONE aggregate scan per direction: lambda
    # expressions are interpreted (no codegen, no subexpression
    # elimination), so an index-transform that slices cls0 re-evaluates
    # the whole classification — tokenize included — PER INDEX. That
    # spelling measured 114 s at sf1 forced; these scans reference
    # cls0 exactly three times per row total.
    def _nearest_full_before(arr: Column) -> Column:
        # out[i] = nearest full class in arr[1..i-1], 'bad' at the edge
        return F.aggregate(
            arr,
            F.struct(
                F.lit("bad").alias("last"),
                F.array().cast("array<string>").alias("arr"),
            ),
            lambda acc, c: F.struct(
                F.when((c == "good") | (c == "bad"), c)
                .otherwise(acc["last"])
                .alias("last"),
                F.concat(acc["arr"], F.array(acc["last"])).alias("arr"),
            ),
            lambda acc: acc["arr"],
        )

    prev_arr = _nearest_full_before(cls0)
    next_arr = F.reverse(_nearest_full_before(F.reverse(cls0)))

    paired = F.zip_with(
        cls0, prev_arr, lambda c, p: F.struct(c.alias("c"), p.alias("p"))
    )
    final = F.zip_with(
        paired,
        next_arr,
        lambda s, nxt: F.when(
            s["c"] == "short",
            F.when(
                (s["p"] == "good") & (nxt == "good"), "good"
            ).otherwise("bad"),
        )
        .when(
            s["c"] == "neargood",
            F.when((s["p"] == "good") | (nxt == "good"), "good").otherwise(
                "bad"
            ),
        )
        .otherwise(s["c"]),
    )
    kept = F.filter(
        F.zip_with(paras, final, lambda p, c: F.when(c == "good", p)),
        lambda x: x.isNotNull(),
    )
    total_chars = F.length(F.col("text"))
    kept_chars = F.aggregate(
        kept, F.lit(0), lambda acc, p: acc + F.length(p)
    )
    return df.select(
        F.col("doc_id").alias("doc_id"),
        F.size(paras).alias("n_paras"),
        F.size(kept).alias("n_good"),
        F.when(
            total_chars > 0,
            F.round(kept_chars.cast("double") / total_chars, 4),
        )
        .otherwise(0.0)
        .alias("main_frac"),
        F.concat_ws("\n\n", kept).alias("text_main"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Overlapping token-window chunker — the embedding/RAG-pipeline
    pre-step: split each document into windows of ``chunk_tokens``
    whitespace tokens advancing by ``chunk_tokens - overlap``, so
    consecutive chunks share ``overlap`` tokens and no token is
    dropped. The final window may be shorter; a window is only emitted
    if it starts within the document (a doc shorter than one chunk
    yields exactly one chunk; an empty doc yields none).

    Output: one row per chunk — (id, chunk_id 0-based, start_tok
    0-based, n_tokens, chunk_text). Deterministic: identical chunking
    at any partitioning.

    Scale shape: the window arithmetic happens inside the document's
    own row (transform over a sequence of window starts, one
    array-slice + join per window), then ONE posexplode fans chunks
    out — no shuffle beyond what the caller does next. Chunk count
    per document is ceil(max(n - overlap, 1) / step), linear in
    document length."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive: {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens): {overlap} vs {chunk_tokens}"
        )
    step = chunk_tokens - overlap
    w = _words(F.col("text"))
    n = F.size(w)
    # number of windows: smallest c with (c-1)*step + chunk >= n and
    # every window start < n  ->  c = ceil(max(n - overlap, 1) / step)
    n_chunks = F.ceil(
        F.greatest(n - overlap, F.lit(1)).cast("double") / step
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            (c * step).alias("start_tok"),
            F.slice(w, c * step + 1, chunk_tokens).alias("toks"),
        ),
    )
    # empty docs: the n_chunks formula would yield 1 window of 0
    # tokens — emit nothing instead
    out = df.select(
        F.col("doc_id").alias("doc_id"),
        F.posexplode(
            F.when(n > 0, chunks).otherwise(
                F.array().cast(
                    "array<struct<start_tok:int,toks:array<string>>>"
                )
            )
        ).alias("chunk_id", "_c"),
    )
    return out.select(
        "doc_id",
        "chunk_id",
        F.col("_c.start_tok").alias("start_tok"),
        F.size("_c.toks").alias("n_tokens"),
        F.array_join("_c.toks", " ").alias("chunk_text"),
    )
