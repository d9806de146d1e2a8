"""numpy oracles the benchmark checks every job's outputs against.

They mirror the program's arithmetic where the order of operations
decides the last bits (the squared-distance formula, the sequential
dot-product accumulation, round-half-up to 6 decimals before ranking),
so a check can demand agreement to 1e-9 relative or exact equality.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

REL_TOL = 1e-9


@dataclass
class LloydOracle:
    ids: np.ndarray  # surviving centroid ids, ascending
    centroids: np.ndarray  # (k', 2)
    iterations: int
    wcss: float
    counts: np.ndarray  # final assignment count per surviving centroid


def _assign(pts: np.ndarray, cents: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Nearest centroid (lowest index wins ties) and its squared distance."""
    dx = pts[:, 0:1] - cents[None, :, 0]
    dy = pts[:, 1:2] - cents[None, :, 1]
    d2 = dx * dx + dy * dy
    a = d2.argmin(axis=1)
    return a, d2[np.arange(len(pts)), a]


def lloyd(pts: np.ndarray, init: np.ndarray, iterations: int) -> LloydOracle:
    """Float64 Lloyd with the reference's fixed-iteration semantics.

    Centroid ids are the init's row indices; a centroid whose cluster
    comes up empty is dropped from the next superstep on.
    """
    ids = np.arange(len(init))
    cents = np.asarray(init, dtype=np.float64)
    for _ in range(iterations):
        a, _d2 = _assign(pts, cents)
        n = np.bincount(a, minlength=len(cents))
        sx = np.bincount(a, weights=pts[:, 0], minlength=len(cents))
        sy = np.bincount(a, weights=pts[:, 1], minlength=len(cents))
        keep = n > 0
        ids = ids[keep]
        cents = np.stack([sx[keep] / n[keep], sy[keep] / n[keep]], axis=1)
    a, d2 = _assign(pts, cents)
    return LloydOracle(
        ids=ids,
        centroids=cents,
        iterations=iterations,
        wcss=float(d2.sum()),
        counts=np.bincount(a, minlength=len(cents)),
    )


def close(a: float, b: float, rel: float = REL_TOL) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(b))


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def cosine(corpus: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every corpus row with ``q``, accumulated dimension by
    dimension in the same order as the program's ``aggregate`` fold."""
    c = corpus.astype(np.float64)
    q = q.astype(np.float64)
    dot = np.zeros(len(c))
    nc = np.zeros(len(c))
    nq = 0.0
    for j in range(c.shape[1]):
        dot = dot + c[:, j] * q[j]
        nc = nc + c[:, j] * c[:, j]
        nq = nq + q[j] * q[j]
    return dot / (np.sqrt(nc) * math.sqrt(nq))


def exact_topk(
    ids: np.ndarray, corpus: np.ndarray, queries: np.ndarray, k: int
) -> list[list[int]]:
    """Top-k neighbour ids per query: cosine rounded to 6 decimals,
    descending, ties on ascending id."""
    out = []
    for q in queries:
        ranked = sorted(
            (-round6(s), i) for s, i in zip(cosine(corpus, q).tolist(), ids.tolist())
        )
        out.append([i for _, i in ranked[:k]])
    return out


def recall_at_k(approx: list[list[int]], exact: list[list[int]], k: int) -> float:
    hit = sum(len(set(a[:k]) & set(e[:k])) for a, e in zip(approx, exact))
    return hit / (k * len(exact))


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def min_id_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over the pair graph: node → smallest id in its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def dup_recall(ids: np.ndarray, group: np.ndarray, kept: set[int]) -> float:
    """Injected near-duplicates removed ÷ injected.

    Per duplicate group of size g the pipeline should keep one doc; it
    removed ``g - kept_in_group`` of the ``g - 1`` injected copies
    (capped, so a group merged into another counts as fully removed).
    """
    injected = removed = 0
    for g in np.unique(group[group >= 0]).tolist():
        members = ids[group == g]
        if len(members) < 2:
            continue
        n_kept = sum(1 for m in members.tolist() if m in kept)
        injected += len(members) - 1
        removed += min(len(members) - 1, len(members) - n_kept)
    return removed / injected if injected else 1.0


def pair_precision(ids: np.ndarray, group: np.ndarray, pairs: list[tuple[int, int]]) -> float:
    """Share of emitted pairs whose two docs are in one injected group."""
    if not pairs:
        return 0.0
    g = dict(zip(ids.tolist(), group.tolist()))
    good = sum(1 for a, b in pairs if g[a] >= 0 and g[a] == g[b])
    return good / len(pairs)
