"""Seeded input generators for the benchmark workloads.

Everything here is numpy/pyarrow only: the program under test never sees
the seed, only the files these functions write.  The same seed gives
byte-identical files.

Two kinds of randomness are kept apart on purpose:

* the *layout* (blob centres, the initial centroids, the embedding
  cluster centres) comes from fixed layout seeds, so the amount of work
  a job does does not change from seed to seed;
* the *sample* (every point, every document, every vector) comes from
  the workload seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Blob layout of the reference data set: 8 centres, cluster_std 0.6,
# centres uniform in sklearn's default centre box (-10, 10)².
BLOB_CENTERS = 8
BLOB_STD = 0.60
CENTER_BOX = (-10.0, 10.0)
INIT_BOX = (-15.0, 15.0)
LAYOUT_SEED = 20250101
# Init-centroid seed: every sample seed starts Lloyd from the same
# centroids, so the work per superstep does not move with the seed.
INIT_SEED = 1008


def _rng(seed: int, stream: int) -> np.random.Generator:
    """An independent generator per (seed, purpose) pair."""
    return np.random.default_rng([int(seed), int(stream)])


# ---------------------------------------------------------------------------
# K-Means points
# ---------------------------------------------------------------------------


def blob_centers(n_centers: int = BLOB_CENTERS) -> np.ndarray:
    """The fixed blob centres, like ``make_blobs(centers=n)`` draws them."""
    return np.random.default_rng(LAYOUT_SEED).uniform(
        CENTER_BOX[0], CENTER_BOX[1], size=(n_centers, 2)
    )


def make_blobs(
    n: int, centers: np.ndarray, std: float, rng: np.random.Generator
) -> np.ndarray:
    """numpy port of ``sklearn.datasets.make_blobs`` for given centres.

    ``n`` is split evenly over the centres (the first ``n % k`` centres
    get one extra point), each blob is isotropic Gaussian with standard
    deviation ``std``, and the rows are shuffled.
    """
    k = len(centers)
    per = np.full(k, n // k)
    per[: n % k] += 1
    x = np.concatenate(
        [rng.normal(loc=centers[i], scale=std, size=(per[i], 2)) for i in range(k)]
    )
    return x[rng.permutation(n)]


def uniform_init(k: int, seed: int = INIT_SEED) -> np.ndarray:
    """k uniform-random centroids in the reference's [-15, 15]² box."""
    return np.random.default_rng(seed).uniform(INIT_BOX[0], INIT_BOX[1], size=(k, 2))


def write_points_csv(path: str, pts: np.ndarray) -> None:
    """``X,Y`` header then one point per line, shortest round-trip reprs."""
    with open(path, "w", encoding="ascii") as f:
        f.write("X,Y\n")
        f.write("\n".join(f"{x!r},{y!r}" for x, y in pts.tolist()))
        f.write("\n")


def write_centroids_csv(path: str, cents: np.ndarray) -> None:
    """``Cluster,X,Y`` header then ``id,x,y`` rows, ids 0..k-1."""
    with open(path, "w", encoding="ascii") as f:
        f.write("Cluster,X,Y\n")
        for i, (x, y) in enumerate(cents.tolist()):
            f.write(f"{i},{x!r},{y!r}\n")


@dataclass
class PointsInput:
    points_csv: str
    centroids_csv: str
    points: np.ndarray  # (n, 2) float64, exactly what the CSV parses back to
    init: np.ndarray  # (k, 2) float64


def gen_points(out_dir: str, seed: int, n: int, k: int) -> PointsInput:
    """Blob points from ``seed`` plus the fixed uniform init, as CSVs."""
    os.makedirs(out_dir, exist_ok=True)
    pts = make_blobs(n, blob_centers(), BLOB_STD, _rng(seed, 1))
    init = uniform_init(k)
    pc = os.path.join(out_dir, "points.csv")
    cc = os.path.join(out_dir, "centroids.csv")
    write_points_csv(pc, pts)
    write_centroids_csv(cc, init)
    return PointsInput(pc, cc, pts, init)


# ---------------------------------------------------------------------------
# LLM pretraining corpus
# ---------------------------------------------------------------------------

# The most frequent Zipf ranks are the stopwords quality_score counts.
STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "with")
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "bar", "den", "fin",
    "gor", "hul", "jep", "kir", "lum", "mox", "nap", "pel", "quo", "ris", "sul", "tov",
)
VOCAB = 3000
ZIPF_S = 1.1
DOC_TOKENS = (80, 300)
JUNK_TOKENS = (80, 120)
DUP_FRAC = 0.20  # share of the corpus that are near-duplicates
JUNK_FRAC = 0.05  # share of low-quality docs the quality gate drops
EDIT_FRAC = 0.05  # share of tokens a near-duplicate replaces
EMB_DIM = 32
EMB_CELLS = 16
EMB_STD = 0.35
SOURCES = ("web", "books", "code", "wiki")


def vocabulary(size: int = VOCAB) -> list[str]:
    """Stopwords first, then distinct pseudo-words from syllables."""
    rng = np.random.default_rng(LAYOUT_SEED + 1)
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < size:
        n_syl = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), n_syl))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(size: int = VOCAB, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


@dataclass
class Corpus:
    docs_dir: str  # documents.parquet + embeddings.parquet
    queries_dir: str  # embeddings.parquet holding the eval queries
    doc_ids: np.ndarray  # (n,) int64, file row order
    group: np.ndarray  # (n,) duplicate-group id per row; -1 = junk doc
    junk: np.ndarray  # (n,) bool
    emb: np.ndarray  # (n, d) float32, the vector of doc_ids[i] (vec_id = doc_id)
    queries: np.ndarray  # (q, d) float32, query_id = row index


def _edit(tokens: np.ndarray, rng: np.random.Generator, probs: np.ndarray) -> np.ndarray:
    out = tokens.copy()
    n_edit = max(1, int(round(EDIT_FRAC * len(out))))
    pos = rng.choice(len(out), size=n_edit, replace=False)
    out[pos] = rng.choice(len(probs), size=n_edit, p=probs)
    return out


def gen_corpus(out_dir: str, seed: int, n_docs: int, n_queries: int) -> Corpus:
    """Documents with injected near-duplicates, embeddings and queries.

    Originals draw Zipf tokens; each near-duplicate copies a random
    original and replaces ``EDIT_FRAC`` of its tokens; junk docs are
    punctuation and digits that the quality gate should drop.  Doc ids
    are a random permutation, so a duplicate can have a smaller id than
    its original.  ``group`` is the ground-truth duplicate map: rows
    with the same group id are one original and its copies.
    """
    rng = _rng(seed, 2)
    words = np.array(vocabulary())
    probs = zipf_probs()
    n_dup = int(round(DUP_FRAC * n_docs))
    n_junk = int(round(JUNK_FRAC * n_docs))
    n_orig = n_docs - n_dup - n_junk

    toks: list[np.ndarray] = []
    group = np.empty(n_docs, dtype=np.int64)
    for i in range(n_orig):
        length = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        toks.append(rng.choice(VOCAB, size=length, p=probs))
        group[i] = i
    src = rng.integers(0, n_orig, size=n_dup)
    for j, g in enumerate(src.tolist()):
        toks.append(_edit(toks[g], rng, probs))
        group[n_orig + j] = g
    texts = [" ".join(words[t].tolist()) for t in toks]
    for j in range(n_junk):
        length = int(rng.integers(JUNK_TOKENS[0], JUNK_TOKENS[1] + 1))
        texts.append(" ".join(f"#{v}%!" for v in rng.integers(0, 10**6, size=length).tolist()))
        group[n_orig + n_dup + j] = -1
    junk = group < 0

    # embeddings: a doc sits near its group's cell centre; copies sit
    # near their original's vector
    cells = np.random.default_rng(LAYOUT_SEED + 2).normal(size=(EMB_CELLS, EMB_DIM))
    cell_of = rng.integers(0, EMB_CELLS, size=n_docs)
    emb = cells[cell_of] + rng.normal(scale=EMB_STD, size=(n_docs, EMB_DIM))
    dup_rows = np.arange(n_orig, n_orig + n_dup)
    emb[dup_rows] = emb[group[dup_rows]] + rng.normal(scale=0.02, size=(n_dup, EMB_DIM))
    emb = emb.astype(np.float32)

    order = rng.permutation(n_docs)  # file row order
    doc_ids = rng.permutation(n_docs).astype(np.int64)  # id per generated doc
    texts = [texts[i] for i in order.tolist()]
    group = group[order]
    junk = junk[order]
    emb = emb[order]
    ids = doc_ids[order]
    source = np.array(SOURCES)[rng.integers(0, len(SOURCES), size=n_docs)]

    qcell = rng.integers(0, EMB_CELLS, size=n_queries)
    queries = (cells[qcell] + rng.normal(scale=EMB_STD, size=(n_queries, EMB_DIM))).astype(
        np.float32
    )

    docs_dir = os.path.join(out_dir, "corpus")
    queries_dir = os.path.join(out_dir, "queries")
    os.makedirs(docs_dir, exist_ok=True)
    os.makedirs(queries_dir, exist_ok=True)
    docs = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array(source.tolist(), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(docs_dir, "documents.parquet"))
    _write_vectors(os.path.join(docs_dir, "embeddings.parquet"), ids, emb, cell_of[order])
    _write_vectors(
        os.path.join(queries_dir, "embeddings.parquet"),
        np.arange(n_queries, dtype=np.int64),
        queries,
        qcell,
    )
    return Corpus(docs_dir, queries_dir, ids, group, junk, emb, queries)


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, label: np.ndarray) -> None:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(table, path)
