"""Seeded input generator for the benchmark.

Writes a ``documents`` table with the schema and distributions of the
engine's ``documents`` input (doc_id int64, text, lang, source, n_chars):

- text is 10..99 words drawn uniformly from a fixed 30-word vocabulary;
- exactly 5% of documents are near-duplicates: they take another
  document's text, drawn uniformly from the whole table, with the word
  ``dup`` appended (the structure the dedup queries look for);
- lang is ``en`` for ~41% of documents, the rest split over zh/de/fr/es;
- source is ``src<i % 20>``.

The seed draws every text and salts every doc_id. The salt moves each
document's md5-keyed draws in ``kernel.docgen`` (heavy-doc factor, channel
noise, media placement) and every hash placement, while the text-length and
heavy-doc distributions stay the same. Doc ids stay below 10,000,000, the
offset the dedup oracles use for their mutated copies.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
DUP_RATE = 0.05
MIN_WORDS, MAX_WORDS = 10, 99
N_SOURCES = 20
DOC_ID_LIMIT = 10_000_000


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents drawn from ``seed`` (same seed, same table)."""
    if not 0 < n_docs < DOC_ID_LIMIT // 2:
        raise ValueError(f"n_docs must be in 1..{DOC_ID_LIMIT // 2 - 1}")
    rng = np.random.default_rng(seed)
    salt = int(rng.integers(0, DOC_ID_LIMIT - n_docs))
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    texts: list[str] = []
    pos = 0
    for n in lengths.tolist():
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    dup_rows = rng.choice(n_docs, size=round(n_docs * DUP_RATE), replace=False)
    bases = rng.integers(0, max(1, n_docs - 1), size=len(dup_rows))
    for row, base in zip(dup_rows.tolist(), bases.tolist()):
        base += base >= row  # any document but itself
        texts[row] = texts[base] + " dup"

    ids = np.arange(n_docs, dtype=np.int64) + salt
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(table: pa.Table, sf_dir: str) -> str:
    """Write ``table`` as ``<sf_dir>/documents.parquet`` (the layout
    ``pipeline.load_documents`` and ``plans.QUERIES`` read)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return path
