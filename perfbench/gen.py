"""Seeded generator for the `documents` and `embeddings` tables.

The tables have the schema of the sf test tables in TESTDATA.md (doc_id,
text, lang, source, n_chars / vec_id, embedding, label) and a similar
population: texts drawn from the same 30-word vocabulary, 5% near-duplicate
documents (a copy of another text with one word changed and " dup"
appended), and unit-norm 64-dimensional embeddings of which 4% are
near-duplicates of another. Sizes are the same for every seed: text lengths
are one fixed set of lengths in a seeded order, and the near-duplicate
counts are exact. The same seed gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
DIM = 64


def documents(rng, n):
    lengths = rng.permutation(np.linspace(8, 95, n).round().astype(int))
    words = [list(rng.choice(VOCAB, size=k)) for k in lengths]
    dups = rng.choice(n, size=round(0.05 * n), replace=False)
    for i in dups:
        j = (int(i) + 1 + int(rng.integers(0, n - 1))) % n
        w = list(words[j])
        w[int(rng.integers(0, len(w)))] = str(rng.choice(VOCAB))
        words[i] = w + ["dup"]
    texts = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    x = rng.standard_normal((n, DIM))
    near = rng.choice(n, size=round(0.04 * n), replace=False)
    src = (near + 1 + rng.integers(0, n - 1, size=len(near))) % n
    x[near] = x[src] + rng.standard_normal((len(near), DIM)) * 0.8
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def generate(out_dir, n_docs, n_vecs, seed):
    """Write documents.parquet and embeddings.parquet under out_dir."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
