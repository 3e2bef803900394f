"""Seeded `documents` table for the corpus_curate workload.

Writes `documents.parquet` with the schema and the text mix of the sf
layout's corpus: the same 30-word vocabulary (so the same stopword and
language-marker mix), 5-100 words a document, the same language shares
and 20 sources. A fixed share of the documents are near-duplicates: a
document with the marker word "dup" appended. The seed draws the words
and the order; the document lengths are fixed. Every other table
of the layout is linked in from a fixed sf directory, so only the corpus
depends on the seed. The same seed gives a byte-identical table.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 5, 100
N_DOCS = 500
DUP_SHARE = 0.05


def documents(rng, n, dup_share):
    n_dup = int(round(n * dup_share))
    n_base = n - n_dup
    # the lengths are spread evenly over 5-100 words and only their order
    # is drawn, so every seed gives the corpus the same size in words
    lens = rng.permutation(MIN_WORDS + np.arange(n_base) * (MAX_WORDS - MIN_WORDS + 1) // n_base)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    # each near-duplicate copies a document and appends a marker; the
    # copied documents sit at evenly spaced ranks of length, so the
    # duplicates have the same lengths for every seed
    by_len = np.argsort(lens, kind="stable")
    for k in range(n_dup):
        texts.append(texts[int(by_len[(2 * k + 1) * n_base // (2 * n_dup)])] + " dup")
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def corpus(out, seed, base_dir):
    """Write the seeded documents table to `out` and link every other
    table from `base_dir`."""
    os.makedirs(out, exist_ok=True)
    pq.write_table(documents(np.random.default_rng(seed), N_DOCS, DUP_SHARE),
                   os.path.join(out, "documents.parquet"))
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.relpath(os.path.join(base_dir, f"{t}.parquet"), out),
                       os.path.join(out, f"{t}.parquet"))
