"""Byte-level BPE (VERDICT r10 Next #5): pre-tokenizer hand pins,
bytes->unicode table properties, trainer equality vs an INDEPENDENT
plain-Python byte-BPE twin on non-ASCII fixtures (Cyrillic 1C-dialect
anchor + CJK), and the trained-table apply round-trip."""

from __future__ import annotations

import hashlib
from collections import Counter

from magicxml_spark.operators.text import (
    bpe_apply_bytes_pandas,
    bpe_train_bytes,
    byte_words,
    bytes_to_unicode,
    gpt2_pretokenize,
)

# The 1C/YML product-feed vocabulary (the reference's Cyrillic dialect
# anchor) + CJK + emoji: every fixture is multi-byte in UTF-8, so byte
# symbols start split and merges must re-join them.
CORPUS = [
    "Наименование товара Цена Остаток Наименование товара",
    "Цена не указана на складе Остаток товара",
    "Наименование Цена Цена Цена товара на складе",
    "这是一个中文句子 这是测试 这是一个",
    "mixed ascii и кириллица 42 пункта",
    "emoji 😀 tail 😀😀 and Наименование again",
]

# The deterministic training input of text.BPE_BYTES_FROZEN_MERGES.
FIXTURE_CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps while the quick fox jumps",
    "привет the quick dog and the lazy fox",
    "over and over the dog jumps привет",
]


def _py_byte_bpe_train(texts, max_merges, min_count=2, with_counts=False):
    """Independent twin: pre-tokenize, byte-map, then the classic
    Sennrich trainer over (word, freq) with the engine's pinned
    tie-break (count desc, then a+\\x01+b ascending — codepoint order
    == UTF-8 byte order)."""
    b2u = bytes_to_unicode()
    vocab = Counter()
    for t in texts:
        for w in byte_words(t, b2u):
            if w:
                vocab[tuple(w)] += 1
    merges = []
    for _ in range(max_merges):
        pairs = Counter()
        for sym, freq in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += freq
        if not pairs:
            break
        best = min(
            pairs.items(),
            key=lambda kv: (-kv[1], kv[0][0] + "\x01" + kv[0][1]),
        )
        (a, b), c = best
        if c < min_count:
            break
        merges.append((a, b, c) if with_counts else (a, b))
        new_vocab = Counter()
        for sym, freq in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] += freq
        vocab = new_vocab
    return merges


def _py_segment(word, merges):
    ranks = {tuple(m[:2]): i for i, m in enumerate(merges)}
    sym = list(word)
    while len(sym) > 1:
        best = None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        a, b = merges[best][0], merges[best][1]
        out, i = [], 0
        while i < len(sym):
            if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def test_bytes_to_unicode_table():
    b2u = bytes_to_unicode()
    assert len(b2u) == 256
    assert len(set(b2u.values())) == 256  # bijective
    assert b2u[ord("A")] == "A" and b2u[ord("!")] == "!"  # printable identity
    assert all(len(v) == 1 for v in b2u.values())
    # no sentinel collisions with the \x01-\x03 merge machinery
    assert all(v not in ("\x01", "\x02", "\x03", " ") for v in b2u.values())


def test_pretokenizer_hand_pins():
    # the published pattern's semantics, hand-checked
    assert gpt2_pretokenize("Hello world") == ["Hello", " world"]
    assert gpt2_pretokenize("it's Claude's") == ["it", "'s", " Claude", "'s"]
    assert gpt2_pretokenize("a  b") == ["a", " ", " b"]  # \s+(?!\S) rule
    assert gpt2_pretokenize("x 42!") == ["x", " 42", "!"]
    assert gpt2_pretokenize("trail  ") == ["trail", "  "]
    assert gpt2_pretokenize("a\nb") == ["a", "\n", "b"]
    assert gpt2_pretokenize("Цена 42") == ["Цена", " 42"]
    assert gpt2_pretokenize("") == []
    # case preserved, punctuation runs grouped
    assert gpt2_pretokenize("No!!! Way") == ["No", "!!!", " Way"]


def test_trainer_matches_python_twin(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = bpe_train_bytes(df, max_merges=15, with_counts=True)
    want = _py_byte_bpe_train(CORPUS, max_merges=15, with_counts=True)
    assert got == want
    assert len(got) == 15  # corpus is rich enough to not stop early
    # the merges operate on BYTE symbols: crossing UTF-8 character
    # boundaries is legitimate byte-BPE behavior (GPT-2 tables do it),
    # so the targeted single-char rejoin check lives in the pin below


def test_trainer_multibyte_rejoin_pin(spark):
    # 'ц' is 2 UTF-8 bytes: the FIRST merge on a pure-'ц' corpus must
    # be exactly those two mapped bytes re-joining
    df = spark.createDataFrame([("ц ц ц",)], "text string")
    got = bpe_train_bytes(df, max_merges=1)
    b2u = bytes_to_unicode()
    b1, b2 = "ц".encode("utf-8")
    assert got == [(b2u[b1], b2u[b2])]


def test_apply_roundtrip_matches_twin(spark):
    merges = _py_byte_bpe_train(CORPUS, max_merges=20)
    rows = [(i, t) for i, t in enumerate(CORPUS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (
            r["n_pretokens"], r["n_bytes"], r["n_subwords"], r["seg_fp"]
        )
        for r in bpe_apply_bytes_pandas(df, merges=merges).collect()
    }
    b2u = bytes_to_unicode()
    for i, t in rows:
        words = [w for w in byte_words(t, b2u) if w]
        segs = [_py_segment(w, merges) for w in words]
        joined = " | ".join(" ".join(s) for s in segs)
        fp = hashlib.md5(joined.encode("utf-8")).hexdigest()
        assert out[i] == (
            len(words),
            sum(len(w) for w in words),
            sum(len(s) for s in segs),
            fp,
        ), f"doc {i}"


def test_train_then_apply_compresses(spark):
    # end-to-end: applying the trained table yields fewer subwords
    # than raw byte count (the merges actually fire at apply time)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = bpe_train_bytes(df, max_merges=25)
    out = bpe_apply_bytes_pandas(df, merges=merges).collect()
    assert all(r["n_subwords"] < r["n_bytes"] for r in out)


def test_frozen_fixture_merges_provenance(spark):
    """The in-repo frozen table (the driver-gated q_bpe_bytes
    tokenizer) is EXACTLY what training on its recorded fixture
    corpus produces — pinned against both the independent Python twin
    and the Spark trainer, so the constant cannot rot."""
    from magicxml_spark.operators.text import BPE_BYTES_FROZEN_MERGES

    assert (
        _py_byte_bpe_train(FIXTURE_CORPUS, max_merges=40)
        == BPE_BYTES_FROZEN_MERGES
    )
    df = spark.createDataFrame(
        [(t,) for t in FIXTURE_CORPUS], "text string"
    )
    assert bpe_train_bytes(df, max_merges=40) == BPE_BYTES_FROZEN_MERGES
    # the tail is the multi-byte re-join chain: the final merge emits
    # the full 'привет' byte string as ONE symbol
    b2u = bytes_to_unicode()
    ru = "".join(b2u[b] for b in "привет".encode("utf-8"))
    a, b = BPE_BYTES_FROZEN_MERGES[-1]
    assert a + b == ru
