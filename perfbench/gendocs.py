"""Seeded `documents` + `embeddings` tables for the ann_queries workload.

The shapes match what graft.SparkEntry's document and embedding queries read:

  documents(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)
  embeddings(vec_id BIGINT, embedding FLOAT[64], label INT)

Planted truth, independent of the program under test:

  - near-dup groups: a base document plus one or two copies, each copy either
    byte-identical or with one token substituted (3-shingle Jaccard ~0.9);
    every pair inside a group is a planted dup pair;
  - substring documents: a short verbatim window of a long document, far
    below the near-dup threshold, so they feed q_substring_pairs only;
  - embeddings: Gaussian clusters around ten labelled centres.

The truth is written as `truth.parquet(doc_id BIGINT, truth_group VARCHAR)`
for every document.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("key agg row scan slow fast table value part hash batch window spark "
         "order data column join small line customer query big filter sort "
         "stream merge group vector a the index probe").split()
LANGS = ["en", "es", "fr", "de", "zh"]
DIM = 64


def _docs(rng, n_docs):
    texts, groups = [], []
    while len(texts) < n_docs:
        doc_id = len(texts)
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(30, 80))]
        texts.append(" ".join(toks))
        groups.append(f"d{doc_id}")
        roll = rng.random()
        if roll < 0.25:  # near-dup group: one or two copies
            for _ in range(rng.randint(1, 2)):
                copy = list(toks)
                if rng.random() < 0.6:
                    pos = rng.randrange(len(copy))
                    copy[pos] = rng.choice([w for w in VOCAB if w != copy[pos]])
                texts.append(" ".join(copy))
                groups.append(f"d{doc_id}")
        elif roll < 0.30 and len(toks) >= 50:  # substring doc, own group
            w = rng.randint(10, 12)
            start = rng.randrange(len(toks) - w + 1)
            texts.append(" ".join(toks[start:start + w]))
            groups.append(f"d{len(texts) - 1}")
    return texts[:n_docs], groups[:n_docs]


def _embeddings(rng, n_vecs):
    nrng = np.random.default_rng(rng.getrandbits(63))
    centres = nrng.normal(size=(10, DIM))
    labels = nrng.integers(0, 10, size=n_vecs)
    vecs = centres[labels] + 0.6 * nrng.normal(size=(n_vecs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def write(out_dir, seed, n_docs, n_vecs):
    """Write documents/embeddings/truth parquet files for `seed` under out_dir."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts, groups = _docs(rng, n_docs)
    ids = list(range(len(texts)))
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[rng.randrange(len(LANGS))] for _ in ids], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "truth_group": pa.array(groups, pa.string()),
    }), os.path.join(out_dir, "truth.parquet"))
    vecs, labels = _embeddings(rng, n_vecs)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
