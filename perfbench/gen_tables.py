"""Seeded parquet tables for the text_curation workload.

Same table names, columns and types as the project's test data
(``magicxml_spark.tables.TABLE_NAMES``), so every registered query and
its DuckDB oracle run unchanged on them. Only the tables the workload
reads are written.

``corpus_tables`` writes the events table and the document/embedding
corpus with stated duplicate shares: ``exact_share`` of the documents are
verbatim copies of an earlier document, ``near_share`` are an earlier
document with one word replaced. All other documents are independent draws from a 600-word
vocabulary, so random shingle collisions are rare and the duplicate
shares, not chance, drive the dedup and LSH work.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
BASE_WORDS = (
    "spark query table line column order sort scan hash group join "
    "filter agg stream batch merge value key window vector part "
    "customer big small fast slow the a data index cache"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, cols: dict) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def events_table(rng: np.random.Generator, out_dir: str, n_ev: int, n_users: int) -> int:
    """Write ``n_ev`` click-stream events over 30 days; return the file size."""
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    return _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": (ts0 + rng.integers(0, 30 * DAY_US, n_ev)).astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(60, n_ev), 600), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """The 31 base words plus distinct pseudo-words of 2-4 syllables."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    words = list(BASE_WORDS)
    seen = set(words)
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(5)] for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def corpus_tables(
    seed: int,
    out_dir: str,
    n_docs: int,
    n_vecs: int = 2000,
    n_events: int = 100_000,
    exact_share: float = 0.05,
    near_share: float = 0.10,
) -> dict[str, int]:
    """Write documents, embeddings and the event stream the streaming
    query reads; return each table's file size."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(_vocabulary(rng, 600))
    lengths = rng.integers(8, 104, n_docs)
    kind = rng.random(n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and kind[i] < exact_share:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and kind[i] < exact_share + near_share:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(len(vocab)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    sizes = {}
    sizes["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_W)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # 10 unit-norm cluster centres plus gaussian noise, renormalised
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + rng.normal(scale=0.35, size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    sizes["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    sizes["events"] = events_table(rng, out_dir, n_events, max(1, n_events // 70))
    return sizes
