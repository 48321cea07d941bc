"""Seeded input generator for the benchmark.

Every input the program sees is written here from one integer seed; the
same seed and sizes give byte-identical files.  The value distributions
copy ``tools/gen_sf.py`` (31-word vocabulary, 10-100 tokens per
document, gen_sf's language mix, isotropic 64-d unit vectors), which
itself matches measurements of the sf0.1 testdata; that tool hard-codes
its seed, so the distributions are repeated here rather than imported.

The generator also returns what the output checks need: the graph's
adjacency, the planted near-duplicate pairs, and the vectors.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data join scale plan read write"
).split()
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DIM = 64
EMBEDDINGS_PER_DOC = 0.4  # gen_sf: 20k embeddings per 50k documents
JACCARD_THRESHOLD = 0.5  # the gate's near-duplicate threshold
DUP_SHARE = 0.10  # planted near-duplicates per document
EDIT_SHARE = 0.05  # tokens substituted in a planted copy


def shingles(tokens: list[str]) -> set[str]:
    """Distinct token 3-grams, the gate's shingle definition."""
    return {" ".join(tokens[i : i + 3]) for i in range(len(tokens) - 2)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


# --- graph ---------------------------------------------------------------


@dataclass
class Graph:
    n: int
    src: np.ndarray  # undirected edges, src < dst
    dst: np.ndarray
    path: str

    @property
    def n_edges(self) -> int:
        return int(self.src.size)

    def first_fit_colors(self) -> int:
        """Colors used by sequential first-fit greedy in id order: each
        vertex takes the smallest color none of its earlier neighbours
        holds.  The benchmark's own quality bar for the coloring."""
        a = np.concatenate([self.src, self.dst])
        b = np.concatenate([self.dst, self.src])
        order = np.argsort(a, kind="stable")
        a, b = a[order], b[order]
        starts = np.searchsorted(a, np.arange(self.n + 1))
        colors = np.full(self.n, -1, dtype=np.int64)
        for v in range(self.n):
            taken = set(colors[b[starts[v] : starts[v + 1]]].tolist())
            c = 0
            while c in taken:
                c += 1
            colors[v] = c
        return int(colors.max()) + 1 if self.n else 0


def uniform_graph(rng: np.random.Generator, n: int, avg_degree: float):
    """Uniform random simple graph with n * avg_degree / 2 edges."""
    m = int(round(n * avg_degree / 2))
    keys = np.empty(0, dtype=np.int64)
    while keys.size < m:
        u = rng.integers(0, n, 2 * m)
        v = rng.integers(0, n, 2 * m)
        lo, hi = np.minimum(u, v), np.maximum(u, v)
        fresh = (lo * n + hi)[lo != hi]
        keys = np.unique(np.concatenate([keys, fresh]))
    keys = keys[np.sort(rng.permutation(keys.size)[:m])]
    return keys // n, keys % n


def write_graph_json(rng: np.random.Generator, n: int, avg_degree: float, path: str) -> Graph:
    """The reference format: one indent=4 JSON array of
    ``{"id", "neighbors", "color": -1}``, neighbors ascending."""
    src, dst = uniform_graph(rng, n, avg_degree)
    a = np.concatenate([src, dst])
    b = np.concatenate([dst, src])
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    starts = np.searchsorted(a, np.arange(n + 1))
    nodes = [
        {"id": i, "neighbors": b[starts[i] : starts[i + 1]].tolist(), "color": -1}
        for i in range(n)
    ]
    with open(path, "w") as f:
        json.dump(nodes, f, indent=4)
    return Graph(n, src, dst, path)


# --- corpus --------------------------------------------------------------


@dataclass
class Corpus:
    sf_dir: str
    texts: list[str]
    planted: dict[int, int]  # near-duplicate doc_id -> the earlier doc it copies
    n_embeddings: int


def _edit(rng: np.random.Generator, tokens: list[str], share: float) -> list[str]:
    """Substitute about ``share`` of the tokens with random vocabulary
    words, backing off to fewer edits until the copy stays a
    near-duplicate (3-gram Jaccard >= 0.5) of its source."""
    base = shingles(tokens)
    n_edits = int(rng.binomial(len(tokens), share))
    pos = rng.permutation(len(tokens))
    words = rng.integers(0, len(VOCAB), len(tokens))
    while True:
        out = list(tokens)
        for p in pos[:n_edits]:
            out[p] = VOCAB[words[p]]
        if n_edits == 0 or jaccard(base, shingles(out)) >= JACCARD_THRESHOLD:
            return out
        n_edits -= 1


def write_corpus(rng: np.random.Generator, n_docs: int, sf_dir: str) -> Corpus:
    """``documents.parquet`` + ``embeddings.parquet`` in gen_sf's
    schema.  ``DUP_SHARE`` of the documents are planted near-duplicates
    of an ORIGINAL document at most ``n_docs // 2`` ids earlier (so with
    four arrival slices some copies land in their source's slice and
    some in a later one); the gate's greedy keep-first rule rejects each
    of them."""
    os.makedirs(sf_dir, exist_ok=True)
    max_back = max(1, n_docs // 2)
    lengths = rng.integers(10, 101, n_docs)
    texts = [[VOCAB[w] for w in rng.integers(0, len(VOCAB), ln)] for ln in lengths]
    n_dup = int(round(DUP_SHARE * n_docs))
    dups = np.sort(rng.choice(np.arange(1, n_docs), n_dup, replace=False))
    is_dup = np.zeros(n_docs, dtype=bool)
    is_dup[dups] = True
    planted: dict[int, int] = {}
    for d in dups.tolist():
        lo = max(0, d - max_back)
        originals = np.flatnonzero(~is_dup[lo:d]) + lo
        if originals.size == 0:
            is_dup[d] = False
            continue
        src = int(originals[rng.integers(0, originals.size)])
        texts[d] = _edit(rng, texts[src], EDIT_SHARE)
        planted[d] = src
    joined = [" ".join(t) for t in texts]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=np.array(LANG_P))]
    sources = [f"src{i % 20}" for i in rng.integers(0, 20, n_docs)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": joined,
                "lang": langs,
                "source": sources,
                "n_chars": pa.array([len(t) for t in joined], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    n_emb = max(1, int(n_docs * EMBEDDINGS_PER_DOC))
    write_vectors(rng, n_emb, sf_dir)
    return Corpus(sf_dir, joined, planted, n_emb)


# --- vectors -------------------------------------------------------------


def write_vectors(rng: np.random.Generator, n: int, sf_dir: str) -> np.ndarray:
    """``embeddings.parquet``: isotropic unit vectors with decorative
    labels, gen_sf's sf1 regime."""
    os.makedirs(sf_dir, exist_ok=True)
    labels = rng.integers(0, 10, n)
    v = rng.normal(0.0, 1.0, (n, DIM))
    vecs = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    return vecs


def write_parquet_slice(table: pa.Table, path: str) -> None:
    """Land one arrival file atomically: write it outside the monitored
    directory, then rename it in, so a streaming file source never lists
    a half-written file."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)
