"""Benchmark sweep driver (SURVEY.md §2.4, B1-B4 parity).

The reference drives four bash sweeps over `flink run` (scripts/
script_{1..4}.sh); here each sweep is a function over the in-process
engine, writing one tidy CSV of (config, wcss, runtime_ms) rows —
machine-parsable from the start (the reference's stdout scraping
corrupted its script_3 timings; SURVEY.md §2.4).

B1  sweep_k            — #centroids 1..N, repeated runs
B2  sweep_recompnearest — recompnearest 0..R
B3  sweep_iterations   — iterations 1..I on the fixed fixture
B4  sweep_n            — #points over decades, at two parallelisms

Usage:
    python scripts/sweeps.py --sweep k --out /tmp/sweep_k.csv \
        --points /root/reference/script_results/script_3/input/points.csv
"""

from __future__ import annotations

import argparse
import csv
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.operators.kmeans import (
    lloyd,
    random_centroids,
    recompute_nearest,
)
from flink_kmeans_clustering_spark.session import get_spark
from flink_kmeans_clustering_spark.sources.csv import (
    read_centroids_csv,
    read_points_csv,
)


def _run_once(points: DataFrame, init, iterations: int, epsilon: float | None):
    t0 = time.perf_counter()
    res = lloyd(points, init, max_iterations=iterations, epsilon=epsilon)
    ms = round((time.perf_counter() - t0) * 1000, 1)
    res.assignments.unpersist()  # sweeps only read the WCSS
    return res, ms


def synthetic_points(spark: SparkSession, n: int, seed: int = 11) -> DataFrame:
    """Deterministic pseudo-random 2-D blob points, generated distributed.

    ``spark.range`` + hash-derived uniforms — no driver-side data, no
    files; the B4 decade sweep scales to 10M+ rows without touching
    disk.  Eight blob centers on a circle, radius noise ~N(0, 0.6)-ish
    via the irwin-hall sum of uniforms.
    """
    base = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 8).alias("blob"),
        *[
            (
                (F.xxhash64(F.col("id"), F.lit(seed + i)) % 1_000_000 + 1_000_000)
                % 1_000_000
                / 1_000_000.0
            ).alias(f"u{i}")
            for i in range(4)
        ],
    )
    two_pi = 6.283185307179586
    cx = F.cos(F.col("blob") * two_pi / 8) * 10
    cy = F.sin(F.col("blob") * two_pi / 8) * 10
    # sum of 3 uniforms - 1.5 approximates a N(0, 0.5) deviate
    nx = (F.col("u0") + F.col("u1") + F.col("u2") - 1.5) * 1.2
    ny = (F.col("u1") + F.col("u2") + F.col("u3") - 1.5) * 1.2
    return base.select((cx + nx).alias("x"), (cy + ny).alias("y"))


def sweep_k(points: DataFrame, max_k: int, repeats: int, iterations: int, seed: int):
    """B1: WCSS/runtime vs number of centroids."""
    for k in range(1, max_k + 1):
        for rep in range(repeats):
            init = random_centroids(k, seed=seed + 100 * k + rep)
            res, ms = _run_once(points, init, iterations, None)
            yield {"k": k, "rep": rep, "wcss": res.wcss, "runtime_ms": ms}


def sweep_recompnearest(
    points: DataFrame, max_r: int, k: int, repeats: int, iterations: int, seed: int
):
    """B2: effect of the recompnearest init heuristic."""
    for r in range(0, max_r + 1):
        for rep in range(repeats):
            init = random_centroids(k, seed=seed + rep)
            init = recompute_nearest(init, r, seed=seed + 7 * r + rep)
            res, ms = _run_once(points, init, iterations, None)
            yield {"recompnearest": r, "rep": rep, "wcss": res.wcss, "runtime_ms": ms}


def sweep_iterations(points: DataFrame, init, max_iters: int):
    """B3: WCSS convergence curve on a fixed centroid file."""
    for n in range(1, max_iters + 1):
        res, ms = _run_once(points, init, n, None)
        yield {"iterations": n, "wcss": res.wcss, "runtime_ms": ms}


def sweep_n(spark: SparkSession, sizes: list[int], k: int, iterations: int, seed: int):
    """B4: runtime vs #points (synthetic decade scaling)."""
    for n in sizes:
        pts = synthetic_points(spark, n, seed=seed)
        init = random_centroids(k, seed=seed)
        res, ms = _run_once(pts, init, iterations, None)
        yield {"n_points": n, "wcss": res.wcss, "runtime_ms": ms}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="K-Means benchmark sweeps (B1-B4)")
    p.add_argument("--sweep", required=True, choices=["k", "recompnearest", "iterations", "n"])
    p.add_argument("--out", required=True)
    p.add_argument("--points", default=None, help="points CSV (B1-B3)")
    p.add_argument("--centroids", default=None, help="centroids CSV (B3)")
    p.add_argument("--max-k", type=int, default=10)
    p.add_argument("--max-r", type=int, default=10)
    p.add_argument("--k", type=int, default=8)
    p.add_argument("--repeats", type=int, default=3)
    p.add_argument("--iterations", type=int, default=10)
    p.add_argument("--max-iterations", type=int, default=15)
    p.add_argument("--sizes", default="100,1000,10000,100000")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args(argv)

    spark = get_spark(app_name=f"sweep-{args.sweep}")
    if args.sweep in ("k", "recompnearest", "iterations"):
        if not args.points:
            print("error: --points required for this sweep", file=sys.stderr)
            return 2
        points = read_points_csv(spark, args.points)
    if args.sweep == "k":
        rows = sweep_k(points, args.max_k, args.repeats, args.iterations, args.seed)
    elif args.sweep == "recompnearest":
        rows = sweep_recompnearest(
            points, args.max_r, args.k, args.repeats, args.iterations, args.seed
        )
    elif args.sweep == "iterations":
        if not args.centroids:
            print("error: --centroids required for sweep=iterations", file=sys.stderr)
            return 2
        init = [
            (int(r["id"]), float(r["x"]), float(r["y"]))
            for r in read_centroids_csv(spark, args.centroids).collect()
        ]
        rows = sweep_iterations(points, init, args.max_iterations)
    else:
        sizes = [int(s) for s in args.sizes.split(",")]
        rows = sweep_n(spark, sizes, args.k, args.iterations, args.seed)

    rows = list(rows)
    with open(args.out, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {len(rows)} rows to {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
