"""Drop-in CLI for the reference's K-Means job (S6/S7 parity).

Accepts the reference's exact argument surface (``KMeans.java:58-66,
80-99,170``; README "Program arguments") so a reference user can run
the same command against this engine::

    python -m flink_kmeans_clustering_spark.cli \\
        -numcentroids 8 -recompnearest 3 -iterations 10 \\
        -custconvergence false -points points.csv \\
        -pointsout new_points.csv -centroidsout new_centroids.csv \\
        -objfunout objfun.csv

Behavioral parity:

* ``numcentroids`` set ⇒ random centroids in [minc, maxc]² (D1), the
  generated set echoed to the ``centroids`` path if given (D3,
  ``KMeans.java:123-132``), optional ``recompnearest`` heuristic (D2).
* all three ``*out`` paths given ⇒ single-file headerless CSVs
  (``KMeans.java:231-233``); otherwise results print to stdout (the
  reference's debug path, ``KMeans.java:242-245``).
* ``custconvergence true`` requires ``epsilon`` — like the reference,
  which crashes on a missing ``epsilon`` (``getFloat`` with no
  default, ``KMeans.java:170``), we fail fast with a clear error.
* net runtime is reported in milliseconds on stderr-safe stdout as a
  structured line (the reference scrapes ``getNetRuntime``; our bench
  lesson from SURVEY.md §2.4 B3 is to keep stdout machine-parsable).

Deliberate upgrades (documented, SURVEY.md §7): ``--seed`` for
reproducible init (reference RNG is unseeded) and ``--header`` to write
header rows.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession

from flink_kmeans_clustering_spark.operators.kmeans import (
    lloyd,
    random_centroids,
    recompute_nearest,
)
from flink_kmeans_clustering_spark.session import get_spark
from flink_kmeans_clustering_spark.sinks import write_csv_single
from flink_kmeans_clustering_spark.sources.csv import read_centroids_csv, read_points_csv


def _bool(v: str) -> bool:
    return v.strip().lower() in ("true", "1", "yes")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="flink_kmeans_clustering_spark",
        description="K-Means (Lloyd) on Spark with the reference's argument surface",
        prefix_chars="-",
    )
    # reference argument names (single-dash, ParameterTool style)
    p.add_argument("-points", required=True, help="input points CSV (X,Y header)")
    p.add_argument("-centroids", default=None, help="input/echo centroids CSV (Cluster,X,Y)")
    p.add_argument("-pointsout", default=None)
    p.add_argument("-centroidsout", default=None)
    p.add_argument("-objfunout", default=None)
    p.add_argument("-iterations", type=int, default=100)
    p.add_argument("-custconvergence", type=_bool, default=False)
    p.add_argument("-epsilon", type=float, default=None)
    p.add_argument("-numcentroids", type=int, default=None)
    p.add_argument("-minc", type=int, default=-15)
    p.add_argument("-maxc", type=int, default=15)
    p.add_argument("-recompnearest", type=int, default=None)
    # engine extensions
    p.add_argument(
        "--init",
        choices=("random", "kmeansparallel"),
        default="random",
        help="centroid init when -numcentroids is set: the reference's "
        "uniform-random (default; -recompnearest applies) or k-means|| "
        "scalable oversampling (Bahmani et al. VLDB'12; seeded, "
        "distributed — see operators.kmeans.scalable_init)",
    )
    p.add_argument("--seed", type=int, default=None, help="RNG seed (upgrade: reference is unseeded)")
    p.add_argument("--header", action="store_true", help="write header rows (default: flink-compat headerless)")
    p.add_argument("--master", default=None, help="Spark master override")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.custconvergence and args.epsilon is None:
        print("error: -epsilon is required when -custconvergence true", file=sys.stderr)
        return 2
    # validate the centroid arguments before any session exists so the
    # error path never leaks a session this invocation would own
    if args.numcentroids is None and not args.centroids:
        print("error: one of -centroids / -numcentroids is required", file=sys.stderr)
        return 2

    # only stop the session on exit if this invocation created it —
    # in-process callers (tests, notebooks) keep theirs alive.
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="kmeans-cli", master=args.master)
    t0 = time.perf_counter()

    points = read_points_csv(spark, args.points)

    if args.numcentroids is not None:
        if args.init == "kmeansparallel":
            from flink_kmeans_clustering_spark.operators.kmeans import scalable_init

            init = scalable_init(
                points, args.numcentroids, seed=args.seed if args.seed is not None else 0
            )
        else:
            init = random_centroids(
                args.numcentroids, args.minc, args.maxc, seed=args.seed
            )
            if args.recompnearest:
                init = recompute_nearest(
                    init, args.recompnearest, args.minc, args.maxc, seed=args.seed
                )
        if args.centroids:  # D3: echo generated centroids for later reuse
            gen = spark.createDataFrame(init, "id int, x double, y double")
            write_csv_single(gen, args.centroids, flink_compat=not args.header)
    else:  # args.centroids — guaranteed by the pre-session validation
        init = [
            (int(r["id"]), float(r["x"]), float(r["y"]))
            for r in read_centroids_csv(spark, args.centroids).collect()
        ]

    res = lloyd(
        points,
        init,
        max_iterations=args.iterations,
        epsilon=args.epsilon if args.custconvergence else None,
    )

    have_outs = args.pointsout and args.centroidsout and args.objfunout
    cent_df = spark.createDataFrame(res.centroids, "id int, x double, y double")
    pts_df = res.assignments.select("cluster", "x", "y")
    obj_df = spark.createDataFrame([(res.wcss,)], "wcss double")
    if have_outs:
        write_csv_single(pts_df, args.pointsout, flink_compat=not args.header)
        write_csv_single(cent_df, args.centroidsout, flink_compat=not args.header)
        write_csv_single(obj_df, args.objfunout, flink_compat=not args.header)
    else:  # reference debug path: print instead of write
        cent_df.show(truncate=False)
        print(f"objective function = {res.wcss}")
    res.assignments.unpersist()

    runtime_ms = round((time.perf_counter() - t0) * 1000, 1)
    print(
        json.dumps(
            {
                "metric": "kmeans_cli_runtime",
                "value": runtime_ms,
                "unit": "ms",
                "iterations": res.iterations,
                "wcss": res.wcss,
                "k": len(res.centroids),
            }
        )
    )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
