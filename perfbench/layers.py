"""Per-layer metrics and the self-time table of a traced run.

Layers are the package's modules: a span named ``kmeans.lloyd`` belongs
to ``operators.kmeans``, ``sinks.write_csv_single`` to ``sinks`` and so
on.  Each traced job gives one value per metric; the run reports the
median over its traced jobs.  A metric of a layer the workload does not
use reads 0.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from spans import StatusStore, Tracer, counters, skew

HERE = os.path.dirname(os.path.abspath(__file__))


def _job_metrics(tr: Tracer, store: StatusStore, root: int, wl, cores: int) -> dict[str, float]:
    """Every per-layer metric of one traced job rooted at span ``root``."""
    by_name: dict[str, list[int]] = defaultdict(list)
    for i in tr.subtree(root):
        by_name[tr.spans[i].name].append(i)

    def dur(name: str) -> float:
        return sum(tr.duration(i) for i in by_name.get(name, []))

    def jobs_of(prefix: str) -> list[int]:
        """Spark jobs under every span whose name starts with ``prefix``."""
        spans = [i for n, ids in by_name.items() if n.startswith(prefix) for i in ids]
        return [j for i in spans for j in tr.subtree_jobs(i)]

    m: dict[str, float] = {}
    job_s = tr.duration(root)
    alljobs = tr.subtree_jobs(root)
    c = counters(store.stages(alljobs))
    m.update(
        {
            "spark.jobs": len(alljobs),
            "spark.stages": c["stages"],
            "spark.tasks": c["tasks"],
            "spark.failed_tasks": c["failed_tasks"],
            "spark.shuffle_write_mb": c["shuffle_write_mb"],
            "spark.spill_mb": c["spill_mb"],
            "spark.gc_s": c["gc_s"],
            "spark.busy_frac": c["run_s"] / (job_s * cores),
        }
    )

    # operators.kmeans
    lloyd_s = dur("kmeans.lloyd")
    kjobs = store.jobs(jobs_of("kmeans."))
    iters = wl.oracle.iterations if lloyd_s else 0
    kc = counters(store.stages([j.job_id for j in kjobs]))
    steps = kjobs[:iters]
    step_ms = [
        b.complete_ms - (a.complete_ms if a else b.submit_ms)
        for a, b in zip([None] + steps[:-1], steps)
    ]
    m.update(
        {
            "kmeans.lloyd_s": lloyd_s,
            "kmeans.iterations": iters,
            "kmeans.jobs": len(kjobs),
            "kmeans.superstep_ms_p50": _pct(step_ms, 50),
            "kmeans.superstep_ms_p90": _pct(step_ms, 90),
            "kmeans.tasks_per_superstep": (
                counters(store.stages([j.job_id for j in steps]))["tasks"] / iters if iters else 0
            ),
            "kmeans.busy_frac": kc["run_s"] / (lloyd_s * cores) if lloyd_s else 0.0,
            "kmeans.row_ns": kc["run_s"] * 1e9 / (wl.input_rows * iters) if iters else 0.0,
            "kmeans.shuffle_write_kb": kc["shuffle_write_mb"] * 1e3,
        }
    )

    # sinks
    sc = counters(store.stages(jobs_of("sinks.")))
    m.update(
        {
            "sinks.write_s": sum(dur(n) for n in by_name if n.startswith("sinks.")),
            "sinks.output_mb": sc["output_mb"],
            "sinks.tasks": sc["tasks"],
        }
    )

    # operators.textstats, operators.dedup
    dc = counters(store.stages(jobs_of("dedup.")))
    m.update(
        {
            "textstats.quality_s": dur("textstats.quality_score"),
            "dedup.minhash_s": dur("dedup.minhash_lsh_pairs"),
            "dedup.shuffle_write_mb": dc["shuffle_write_mb"],
            "dedup.spill_mb": dc["spill_mb"],
            "dedup.cc_s": dur("dedup.connected_components"),
            "dedup.cc_jobs": len(jobs_of("dedup.connected_components")),
        }
    )

    # operators.similarity (+ operators.kmeans_ml through ivf_index)
    exact_s = dur("similarity.knn_join")
    exact_stages = store.stages(jobs_of("similarity.knn_join"))
    task_ms = [t for s in exact_stages for t in store.task_ms(s)]
    m.update(
        {
            "similarity.index_s": dur("similarity.ivf_index"),
            "similarity.ann_s": dur("similarity.ivf_knn_join"),
            "similarity.exact_s": exact_s,
            "similarity.task_skew": skew(task_ms),
        }
    )
    return m


def _pct(xs: list[float], p: int) -> float:
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


UNITS = {  # first matching suffix wins
    "_per_s": "1/s",
    "_s": "s",
    "_ms_p50": "ms",
    "_ms_p90": "ms",
    "_ns": "ns",
    "_mb": "MB",
    "_kb": "kB",
    "_frac": "ratio",
    "_skew": "ratio",
    "_precision": "ratio",
    "recall": "ratio",
    "_at_10": "ratio",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def summarize(
    tr: Tracer,
    store: StatusStore,
    wl,
    cores: int,
    session_s: tuple[float, float],
    calib_s: float,
    scan_s: float,
    plain_s: list[float],
    traced_s: list[float],
    quality: dict[str, list[float]],
    failed_frac: float,
) -> tuple[dict[str, tuple[float, str]], list[dict]]:
    """Median per-layer metrics over the traced jobs, and the self-time
    table (median per job of each span name's summed self time)."""
    roots = [i for i, s in enumerate(tr.spans) if s.parent is None]
    per_job = [_job_metrics(tr, store, r, wl, cores) for r in roots]
    m = {k: statistics.median(j[k] for j in per_job) for k in per_job[0]} if per_job else {}

    q = {k: statistics.median(v) for k, v in quality.items()}
    n_queries = getattr(wl, "n_queries", 0)
    exact_s = m.get("similarity.exact_s", 0.0)
    m.update(
        {
            "host.calib_s": calib_s,
            "session.start_s": session_s[0],
            "session.warmup_s": session_s[1],
            "sources.read_s": scan_s,
            "sources.input_mb": sum(os.path.getsize(p) for p in wl.input_files) / 1e6,
            "sources.input_rows": wl.input_rows,
            "dedup.pairs": q.get("pairs", 0),
            "dedup.pair_precision": q.get("pair_precision", 0.0),
            "similarity.ann_scan_frac": q.get("ann_scan_frac", 0.0),
            "similarity.exact_pairs_per_s": (
                q.get("kept_vectors", 0) * n_queries / exact_s if exact_s else 0.0
            ),
            "trace.overhead_s": (
                statistics.median(traced_s) - statistics.median(plain_s)
                if traced_s and plain_s
                else 0.0
            ),
            "failed_frac": failed_frac,
            "dup_recall": q.get("dup_recall", 0.0),
            "recall_at_10": q.get("recall_at_10", 0.0),
        }
    )

    table: dict[str, list[float]] = defaultdict(list)
    for r in roots:
        sums: dict[str, float] = defaultdict(float)
        for i in tr.subtree(r):
            sums[tr.spans[i].name] += tr.self_time(i)
        for name, v in sums.items():
            table[name].append(v)
    rows = sorted(
        ({"span": n, "self_s": statistics.median(v), "jobs": len(v)} for n, v in table.items()),
        key=lambda r: -r["self_s"],
    )
    return {k: (float(v), unit_of(k)) for k, v in m.items()}, rows


def format_table(rows: list[dict]) -> list[str]:
    total = sum(r["self_s"] for r in rows) or 1.0
    out = [f"self-time {'span':<32} {'s':>9} {'share':>6}"]
    for r in rows:
        out.append(f"self-time {r['span']:<32} {r['self_s']:9.4f} {r['self_s'] / total:6.1%}")
    return out


def select(metrics: dict[str, tuple[float, str]]) -> dict[str, tuple[float, str]]:
    """The per-layer metrics BENCHMARK.json lists, for the JSON line."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: metrics[m["name"]] for m in json.load(f)["per_layer"]}
