"""Seeded input generators. The same seed gives the same inputs; the
program under test only ever sees what these functions return or
write."""

from __future__ import annotations

import os

import numpy as np

# Vocabulary of the documents fixture (30 words; the fixture marks its
# own near-duplicates with the extra token "dup").
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# Language-label mix of the fixture's documents table.
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
N_EVAL_DOCS = 10  # the pipelines' eval set is doc_id < 10

DOC_EXACT_DUP = 0.05  # byte-identical copy of an earlier document
DOC_NEAR_DUP = 0.10  # earlier document with ~10% of tokens replaced
VEC_EXACT_DUP = 0.05  # identical copy of an earlier embedding
VEC_NEAR_DUP = 0.10  # earlier embedding plus N(0, 0.01) noise


def mixture(rng: np.random.Generator, n: int, dim: int, centers: np.ndarray,
            spread: float = 0.12):
    """n float32 draws from a Gaussian mixture around `centers`, kept in
    the quantizer's [-1, 1] domain. Returns (vectors, labels)."""
    labels = rng.integers(len(centers), size=n)
    x = centers[labels] + rng.normal(0.0, spread, (n, dim))
    return np.clip(x, -1.0, 1.0).astype(np.float32), labels


def make_centers(rng: np.random.Generator, n_clusters: int, dim: int) -> np.ndarray:
    return rng.uniform(-0.6, 0.6, (n_clusters, dim))


def make_queries(rng: np.random.Generator, n: int, store: np.ndarray,
                 centers: np.ndarray) -> list[list[float]]:
    """Half are perturbed stored vectors, half fresh mixture draws,
    interleaved."""
    out = []
    for i in range(n):
        if i % 2 == 0:
            v = store[rng.integers(len(store))] + rng.normal(0.0, 0.01, store.shape[1])
            v = np.clip(v, -1.0, 1.0)
        else:
            v = mixture(rng, 1, store.shape[1], centers)[0][0]
        out.append([float(x) for x in v])
    return out


def _doc_text(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(10, 101))
    return [VOCAB[i] for i in rng.integers(len(VOCAB), size=n)]


def make_documents(rng: np.random.Generator, n_docs: int) -> dict:
    """The documents table: fixture vocabulary and language mix, eval
    set at doc_id < 10, and controlled exact- and near-duplicate
    shares. Near-duplicates of eval documents carry their 5-grams, so
    decontamination has work to do."""
    toks: list[list[str]] = []
    for doc_id in range(n_docs):
        u = rng.random()
        if doc_id >= N_EVAL_DOCS and u < DOC_EXACT_DUP:
            toks.append(list(toks[int(rng.integers(doc_id))]))
        elif doc_id >= N_EVAL_DOCS and u < DOC_EXACT_DUP + DOC_NEAR_DUP:
            src = int(rng.integers(N_EVAL_DOCS if rng.random() < 0.2 else doc_id))
            t = list(toks[src])
            for j in rng.choice(len(t), size=max(1, len(t) // 10), replace=False):
                t[j] = VOCAB[int(rng.integers(len(VOCAB)))]
            toks.append(t + ["dup"])
        else:
            toks.append(_doc_text(rng))
    texts = [" ".join(t) for t in toks]
    lang_names = [name for name, _ in LANGS]
    lang_p = np.array([p for _, p in LANGS])
    langs = rng.choice(lang_names, size=n_docs, p=lang_p / lang_p.sum())
    sources = rng.integers(N_SOURCES, size=n_docs)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{s}" for s in sources],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def make_embeddings(rng: np.random.Generator, n: int, dim: int = 64,
                    n_clusters: int = 10) -> dict:
    centers = make_centers(rng, n_clusters, dim)
    x, labels = mixture(rng, n, dim, centers)
    for i in range(1, n):
        u = rng.random()
        if u < VEC_EXACT_DUP:
            j = int(rng.integers(i))
            x[i], labels[i] = x[j], labels[j]
        elif u < VEC_EXACT_DUP + VEC_NEAR_DUP:
            j = int(rng.integers(i))
            x[i] = np.clip(x[j] + rng.normal(0.0, 0.01, dim), -1.0, 1.0)
            labels[i] = labels[j]
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": x,
        "label": labels.astype(np.int32),
    }


def write_corpus(sf_dir: str, docs: dict, emb: dict) -> None:
    """Write the corpus the way the fixture lays it out: one
    `<table>.parquet` file per table under `sf_dir`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table(docs), os.path.join(sf_dir, "documents.parquet"))
    e = emb["embedding"]
    emb_table = pa.table(
        {
            "vec_id": emb["vec_id"],
            "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
            "label": emb["label"],
        }
    )
    pq.write_table(emb_table, os.path.join(sf_dir, "embeddings.parquet"))
