"""The benchmark workloads: inputs, the timed job, output checks.

Each workload's job is what a user of the package runs, composed from
the package's public functions only.  The tracer wraps every call into
a package module in a span named ``<layer>.<function>``; with tracing
off the spans cost nothing.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import oracles

# Sizes were chosen so one job takes a few seconds on a 4-core host and
# a run fits several jobs into its measuring window.
KMEANS_K = 8
REF_POINTS = 200_000
REF_ITERATIONS = 10
CORPUS_DOCS = 2_000
CORPUS_QUERIES = 16
QUALITY_MIN = 0.5
IVF_CELLS = 16
IVF_MAX_ITER = 5
IVF_PROBES = 2
TOP_K = 10


@dataclass
class Check:
    failures: list[str] = field(default_factory=list)
    quality: dict[str, float] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# K-Means reference job
# ---------------------------------------------------------------------------


class KMeansWorkload:
    """The reference's CLI job: points CSV + centroids CSV in, Lloyd,
    three headerless single-file CSVs out (``cli.main``'s sequence)."""

    name = "kmeans_ref"
    input_rows = REF_POINTS

    def prepare(self, work_dir: str, seed: int) -> None:
        self.inp = gen.gen_points(os.path.join(work_dir, "in"), seed, REF_POINTS, KMEANS_K)
        self.out_dir = os.path.join(work_dir, "out")
        self.oracle = oracles.lloyd(self.inp.points, self.inp.init, REF_ITERATIONS)

    @property
    def input_files(self) -> list[str]:
        return [self.inp.points_csv, self.inp.centroids_csv]

    def outputs(self) -> dict[str, str]:
        return {
            k: os.path.join(self.out_dir, f"{k}.csv")
            for k in ("points", "centroids", "objfun")
        }

    def run(self, spark, tr) -> dict:
        from flink_kmeans_clustering_spark.operators.kmeans import lloyd
        from flink_kmeans_clustering_spark.sinks import write_csv_single
        from flink_kmeans_clustering_spark.sources.csv import (
            read_centroids_csv,
            read_points_csv,
        )

        out = self.outputs()
        pts = tr.call("sources.read_points_csv", read_points_csv, spark, self.inp.points_csv)
        init_df = tr.call(
            "sources.read_centroids_csv", read_centroids_csv, spark, self.inp.centroids_csv
        )
        init = [(int(r["id"]), float(r["x"]), float(r["y"])) for r in init_df.collect()]
        res = tr.call("kmeans.lloyd", lloyd, pts, init, max_iterations=REF_ITERATIONS)
        cent_df = spark.createDataFrame(res.centroids, "id int, x double, y double")
        obj_df = spark.createDataFrame([(res.wcss,)], "wcss double")
        for key, df in (
            ("points", res.assignments.select("cluster", "x", "y")),
            ("centroids", cent_df),
            ("objfun", obj_df),
        ):
            tr.call("sinks.write_csv_single", write_csv_single, df, out[key], flink_compat=True)
        return {"centroids": res.centroids, "iterations": res.iterations, "wcss": res.wcss}

    def check(self, res: dict) -> Check:
        o, v, c = self.oracle, res, Check()
        ids = [cid for cid, _, _ in v["centroids"]]
        if ids != o.ids.tolist():
            c.failures.append(f"centroid ids {ids} != oracle {o.ids.tolist()}")
            return c
        for (cid, x, y), (ox, oy) in zip(v["centroids"], o.centroids.tolist()):
            if not (oracles.close(x, ox) and oracles.close(y, oy)):
                c.failures.append(f"centroid {cid} ({x}, {y}) != oracle ({ox}, {oy})")
        if not oracles.close(v["wcss"], o.wcss):
            c.failures.append(f"wcss {v['wcss']} != oracle {o.wcss}")
        if v["iterations"] != o.iterations:
            c.failures.append(f"iterations {v['iterations']} != oracle {o.iterations}")
        c.failures += self._check_files()
        return c

    def _check_files(self) -> list[str]:
        """The CSVs parse back in the reference's headerless layout."""
        o, out, bad = self.oracle, self.outputs(), []
        p = pd.read_csv(out["points"], header=None, names=["cluster", "x", "y"])
        if len(p) != REF_POINTS:
            bad.append(f"points.csv has {len(p)} rows, expected {REF_POINTS}")
        counts = p["cluster"].value_counts().reindex(o.ids, fill_value=0).to_numpy()
        if not np.array_equal(counts, o.counts):
            bad.append(f"points.csv cluster sizes {counts.tolist()} != {o.counts.tolist()}")
        cents = pd.read_csv(out["centroids"], header=None, names=["id", "x", "y"])
        if cents["id"].tolist() != o.ids.tolist() or not np.allclose(
            cents[["x", "y"]].to_numpy(), o.centroids, rtol=oracles.REL_TOL, atol=0
        ):
            bad.append("centroids.csv does not match the oracle centroids")
        obj = pd.read_csv(out["objfun"], header=None)
        if obj.shape != (1, 1) or not oracles.close(float(obj.iat[0, 0]), o.wcss):
            bad.append("objfun.csv does not hold the oracle WCSS")
        return bad

    def scan(self, spark) -> None:
        """Standalone source scan into a noop sink."""
        from flink_kmeans_clustering_spark.sources.csv import read_points_csv

        read_points_csv(spark, self.inp.points_csv).write.format("noop").mode(
            "overwrite"
        ).save()


# ---------------------------------------------------------------------------
# LLM corpus pipeline
# ---------------------------------------------------------------------------


class CorpusWorkload:
    """Quality gate → MinHash LSH pairs → connected components → dedup →
    parquet write → IVF index over the kept embeddings → ANN and exact
    k-NN joins of an eval query set (decontamination lookup)."""

    name = "llm_corpus"
    input_rows = 2 * CORPUS_DOCS + CORPUS_QUERIES  # documents + embeddings + queries
    n_queries = CORPUS_QUERIES

    def prepare(self, work_dir: str, seed: int) -> None:
        self.inp = gen.gen_corpus(os.path.join(work_dir, "in"), seed, CORPUS_DOCS, CORPUS_QUERIES)
        self.out_dir = os.path.join(work_dir, "out", "kept")

    @property
    def input_files(self) -> list[str]:
        return glob.glob(os.path.join(self.inp.docs_dir, "*.parquet")) + glob.glob(
            os.path.join(self.inp.queries_dir, "*.parquet")
        )

    def run(self, spark, tr) -> dict:
        from pyspark.sql import functions as F

        from flink_kmeans_clustering_spark.operators.dedup import (
            connected_components,
            dedup_corpus,
            minhash_lsh_pairs,
        )
        from flink_kmeans_clustering_spark.operators.similarity import (
            ivf_index,
            ivf_knn_join,
            knn_join,
        )
        from flink_kmeans_clustering_spark.operators.textstats import quality_score
        from flink_kmeans_clustering_spark.sinks.parquet import write_partitioned
        from flink_kmeans_clustering_spark.sources.parquet import load_table

        inp = self.inp
        docs = tr.call("sources.load_table", load_table, spark, "documents", inp.docs_dir)
        emb = tr.call("sources.load_table", load_table, spark, "embeddings", inp.docs_dir)
        queries = tr.call("sources.load_table", load_table, spark, "embeddings", inp.queries_dir)
        queries = queries.withColumnRenamed("vec_id", "query_id")

        # each stage is materialized inside its own span, so a span's
        # time is the work of that stage and not of a later one
        with tr.span("textstats.quality_score"):
            q = quality_score(docs).select("doc_id", "quality").localCheckpoint()
        good = docs.join(q, "doc_id").filter(F.col("quality") >= QUALITY_MIN)
        with tr.span("dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(good).localCheckpoint()
        with tr.span("dedup.connected_components"):
            comps = connected_components(pairs, node_col="doc_id").localCheckpoint()
        kept = tr.call("dedup.dedup_corpus", dedup_corpus, good, comps)
        tr.call("sinks.write_partitioned", write_partitioned, kept, self.out_dir, ["source"])

        kept_ids = spark.read.parquet(self.out_dir).select(F.col("doc_id").alias("_kid"))
        vecs = emb.join(kept_ids, emb["vec_id"] == kept_ids["_kid"], "left_semi")
        with tr.span("similarity.ivf_index"):
            assigned, _ = ivf_index(vecs, n_cells=IVF_CELLS, max_iter=IVF_MAX_ITER)
            assigned = assigned.localCheckpoint()
        with tr.span("similarity.ivf_knn_join"):
            ann = ivf_knn_join(
                assigned, queries, k=TOP_K, n_probe=IVF_PROBES, cell_col="cell"
            ).collect()
        with tr.span("similarity.knn_join"):
            exact = knn_join(vecs, queries, k=TOP_K).collect()
        # the checks collect these outside the timed region
        return {
            "pairs": pairs,
            "comps": comps,
            "gate": q,
            "assigned": assigned,
            "ann": ann,
            "exact": exact,
        }

    def check(self, res: dict) -> Check:
        from pyspark.sql import functions as F

        inp, c = self.inp, Check()
        v = {
            "pairs": [(int(r["id_a"]), int(r["id_b"])) for r in res["pairs"].collect()],
            "comps": {int(r["doc_id"]): int(r["component_id"]) for r in res["comps"].collect()},
            "gate": {
                int(r["doc_id"])
                for r in res["gate"].filter(F.col("quality") >= QUALITY_MIN).collect()
            },
            "cells": {
                int(r["vec_id"]): int(r["cell"])
                for r in res["assigned"].select("vec_id", "cell").collect()
            },
            "ann": _topk_lists(res["ann"], self.n_queries),
            "exact": _topk_lists(res["exact"], self.n_queries),
        }
        kept = set(pq.read_table(self.out_dir, columns=["doc_id"]).column("doc_id").to_pylist())
        ids = inp.doc_ids
        junk = set(ids[inp.junk].tolist())
        if junk & kept:
            c.failures.append(f"{len(junk & kept)} low-quality docs survived the gate")
        truth = oracles.min_id_components(v["pairs"])
        if truth != v["comps"]:
            c.failures.append("connected_components labels differ from union-find")
        expect = {d for d in v["gate"] if truth.get(d, d) == d}
        if kept != expect:
            c.failures.append(
                f"kept corpus has {len(kept)} docs, {len(kept ^ expect)} differ from "
                "the min-id-per-component set"
            )
        kept_rows = np.isin(ids, sorted(kept))
        exact = oracles.exact_topk(ids[kept_rows], inp.emb[kept_rows], inp.queries, TOP_K)
        if v["exact"] != exact:
            n_bad = sum(a != b for a, b in zip(v["exact"], exact))
            c.failures.append(f"knn_join top-{TOP_K} differs from numpy on {n_bad} queries")
        c.quality["dup_recall"] = oracles.dup_recall(ids, inp.group, kept)
        c.quality["recall_at_10"] = oracles.recall_at_k(v["ann"], exact, TOP_K)
        c.quality["pair_precision"] = oracles.pair_precision(ids, inp.group, v["pairs"])
        c.quality["ann_scan_frac"] = self._scan_frac(v["cells"])
        c.quality["pairs"] = len(v["pairs"])
        c.quality["kept_vectors"] = int(kept_rows.sum())
        return c

    def _scan_frac(self, cells: dict[int, int]) -> float:
        """Probed-cell rows ÷ corpus rows, averaged over the queries,
        with cells ranked the way ivf_knn_join ranks them."""
        vid = np.array(sorted(cells))
        cell = np.array([cells[i] for i in vid.tolist()])
        row = {int(i): r for r, i in enumerate(self.inp.doc_ids.tolist())}
        vecs = self.inp.emb[[row[i] for i in vid.tolist()]].astype(np.float64)
        ids = np.unique(cell)
        cents = np.stack([vecs[cell == k].mean(axis=0) for k in ids])
        sizes = np.array([(cell == k).sum() for k in ids])
        frac = []
        for qv in self.inp.queries:
            sim = oracles.cosine(cents, qv)
            order = sorted(range(len(ids)), key=lambda j: (-sim[j], ids[j]))
            frac.append(sizes[order[:IVF_PROBES]].sum() / len(vid))
        return float(np.mean(frac))

    def scan(self, spark) -> None:
        from flink_kmeans_clustering_spark.sources.parquet import load_table

        for sf_dir, table in (
            (self.inp.docs_dir, "documents"),
            (self.inp.docs_dir, "embeddings"),
            (self.inp.queries_dir, "embeddings"),
        ):
            load_table(spark, table, sf_dir).write.format("noop").mode("overwrite").save()


def _topk_lists(rows, n_queries: int) -> list[list[int]]:
    by_q: dict[int, list[tuple[int, int]]] = {q: [] for q in range(n_queries)}
    for r in rows:
        by_q[int(r["query_id"])].append((int(r["rnk"]), int(r["neighbor_id"])))
    return [[n for _, n in sorted(by_q[q])] for q in range(n_queries)]


def workloads() -> dict:
    return {w.name: w for w in (KMeansWorkload, CorpusWorkload)}
