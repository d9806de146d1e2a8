"""The benchmark's own tests: generators, numpy oracles, spans, metric names.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

None of them starts Spark.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
from types import SimpleNamespace

import numpy as np

import gen
import jobs
import layers
import oracles
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _tree(d: str) -> list[str]:
    return [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs]


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_points_same_seed_same_bytes(tmp_path):
    a = gen.gen_points(str(tmp_path / "a"), seed=7, n=500, k=8)
    b = gen.gen_points(str(tmp_path / "b"), seed=7, n=500, k=8)
    c = gen.gen_points(str(tmp_path / "c"), seed=8, n=500, k=8)
    assert _digest(_tree(str(tmp_path / "a"))) == _digest(_tree(str(tmp_path / "b")))
    assert _digest(_tree(str(tmp_path / "a"))) != _digest(_tree(str(tmp_path / "c")))
    # the layout (init centroids) is the same for every seed
    assert np.array_equal(a.init, c.init)
    assert np.array_equal(a.points, b.points)


def test_points_csv_round_trips_exactly(tmp_path):
    inp = gen.gen_points(str(tmp_path), seed=3, n=300, k=8)
    back = np.loadtxt(inp.points_csv, delimiter=",", skiprows=1)
    assert np.array_equal(back, inp.points)
    with open(inp.centroids_csv, encoding="ascii") as f:
        assert f.readline() == "Cluster,X,Y\n"


def test_make_blobs_splits_points_evenly():
    centers = gen.blob_centers()
    x = gen.make_blobs(803, centers, 0.01, np.random.default_rng(0))
    near = np.argmin(((x[:, None, :] - centers[None]) ** 2).sum(-1), axis=1)
    counts = np.bincount(near, minlength=len(centers))
    assert counts.tolist() == [101, 101, 101, 100, 100, 100, 100, 100]


def test_corpus_same_seed_same_bytes(tmp_path):
    a = gen.gen_corpus(str(tmp_path / "a"), seed=5, n_docs=60, n_queries=3)
    gen.gen_corpus(str(tmp_path / "b"), seed=5, n_docs=60, n_queries=3)
    gen.gen_corpus(str(tmp_path / "c"), seed=6, n_docs=60, n_queries=3)
    da, db, dc = (_digest(_tree(str(tmp_path / s))) for s in "abc")
    assert da == db != dc
    # the duplicate map: 20 % copies of originals, 5 % junk
    assert int(a.junk.sum()) == 3
    sizes = np.bincount(a.group[a.group >= 0])
    assert int((sizes - 1)[sizes > 0].sum()) == 12
    assert sorted(a.doc_ids.tolist()) == list(range(60))


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _lloyd_loop(pts, init, iterations):
    """Plain-Python Lloyd: the reference's loop, one point at a time."""
    cents = {i: (float(x), float(y)) for i, (x, y) in enumerate(init)}

    def nearest(p):
        best = None
        for cid in sorted(cents):
            cx, cy = cents[cid]
            d = (p[0] - cx) * (p[0] - cx) + (p[1] - cy) * (p[1] - cy)
            if best is None or d < best[0]:
                best = (d, cid)
        return best

    for _ in range(iterations):
        sums = {}
        for p in pts:
            _, cid = nearest(p)
            sx, sy, n = sums.get(cid, (0.0, 0.0, 0))
            sums[cid] = (sx + p[0], sy + p[1], n + 1)
        cents = {cid: (sx / n, sy / n) for cid, (sx, sy, n) in sums.items()}
    wcss = sum(nearest(p)[0] for p in pts)
    return cents, wcss


def test_numpy_lloyd_matches_plain_loop():
    rng = np.random.default_rng(1)
    pts = gen.make_blobs(90, gen.blob_centers(3), 0.8, rng)
    # centroid 3 sits far away and loses every point in superstep one
    init = np.array([[-5.0, 0.0], [0.0, 0.0], [5.0, 5.0], [90.0, 90.0]])
    o = oracles.lloyd(pts, init, iterations=4)
    cents, wcss = _lloyd_loop(pts.tolist(), init.tolist(), 4)
    assert o.ids.tolist() == sorted(cents) and 3 not in cents
    for cid, (x, y) in zip(o.ids.tolist(), o.centroids.tolist()):
        assert math.isclose(x, cents[cid][0], rel_tol=1e-12)
        assert math.isclose(y, cents[cid][1], rel_tol=1e-12)
    assert math.isclose(o.wcss, wcss, rel_tol=1e-12)
    assert int(o.counts.sum()) == 90


def test_lloyd_ties_go_to_lowest_id():
    pts = np.array([[0.0, 0.0]])
    init = np.array([[1.0, 0.0], [-1.0, 0.0]])
    o = oracles.lloyd(pts, init, iterations=1)
    assert o.ids.tolist() == [0]


def test_round6_is_half_up_on_the_decimal_repr():
    assert oracles.round6(0.0000005) == 0.000001
    assert oracles.round6(-0.0000005) == -0.000001
    assert oracles.round6(0.1234565) == 0.123457
    assert oracles.round6(0.12345649999) == 0.123456


def test_exact_topk_matches_brute_force():
    rng = np.random.default_rng(2)
    corpus = rng.normal(size=(40, 5)).astype(np.float32)
    corpus[7] = corpus[3]  # an exact tie: the smaller id ranks first
    ids = np.arange(100, 140)
    queries = rng.normal(size=(3, 5)).astype(np.float32)
    got = oracles.exact_topk(ids, corpus, queries, k=4)
    for q, top in zip(queries, got):
        qd = q.astype(float)
        sims = []
        for i, v in zip(ids, corpus.astype(float)):
            cos = float(np.dot(v, qd) / (np.linalg.norm(v) * np.linalg.norm(qd)))
            sims.append((-round(cos, 6), int(i)))
        assert top == [i for _, i in sorted(sims)[:4]]
    tie = oracles.exact_topk(ids, corpus, corpus[3:4], k=2)
    assert tie == [[103, 107]]


def test_recall_at_k():
    assert oracles.recall_at_k([[1, 2], [3, 4]], [[1, 2], [3, 5]], 2) == 0.75


def test_min_id_components_is_transitive():
    comp = oracles.min_id_components([(5, 9), (9, 2), (7, 8)])
    assert comp == {5: 2, 9: 2, 2: 2, 7: 7, 8: 7}


def test_dup_recall_and_pair_precision():
    ids = np.array([10, 11, 12, 13, 14, 15])
    group = np.array([0, 0, 0, 1, 1, -1])  # two groups and a junk doc
    assert oracles.dup_recall(ids, group, {10, 13}) == 1.0
    assert oracles.dup_recall(ids, group, {10, 11, 13}) == 2 / 3
    assert oracles.dup_recall(ids, group, {10, 11, 12, 13, 14}) == 0.0
    assert oracles.pair_precision(ids, group, [(10, 11), (11, 13), (13, 14), (14, 15)]) == 0.5


# ---------------------------------------------------------------------------
# metric names and the manifest
# ---------------------------------------------------------------------------


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _catalog() -> dict:
    with open(os.path.join(BENCH_DIR, "metrics.json"), encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in b["workloads"]} == set(jobs.workloads())
    assert all(set(w) == {"name", "why"} for w in b["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in b["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_every_metric_name_is_well_formed():
    b, cat = _bench(), _catalog()
    listed = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(set(listed)) == len(listed)
    catalog = [m["name"] for m in cat["metrics"]]
    assert len(set(catalog)) == len(catalog)
    for n in listed + catalog + [w["name"] for w in b["workloads"]]:
        assert NAME_RE.match(n) and len(n) <= 64, n


def test_catalog_covers_the_listed_metrics():
    cat = {m["name"]: m for m in _catalog()["metrics"]}
    b = _bench()
    for m in b["end_to_end"] + b["per_layer"]:
        assert m["name"] in cat, m["name"]
        assert cat[m["name"]]["unit"] == m["unit"], m["name"]
        assert cat[m["name"]]["better"] == m["better"], m["name"]
    for name, m in cat.items():
        assert {"unit", "better", "layer", "moves"} <= set(m), name
        if m["layer"] != "end_to_end":
            assert layers.unit_of(name) == m["unit"], name


def test_listed_per_layer_times_apply_to_every_workload():
    """A time that reads exactly 0 on a workload would look unmeasured."""
    cat = {m["name"]: m for m in _catalog()["metrics"]}
    times = {"s", "ms", "ns"}
    for m in _bench()["per_layer"]:
        if m["unit"] in times:
            assert cat[m["name"]]["workloads"] == "all", m["name"]



# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class _FakeSpark:
    """Just enough of a SparkSession for the tracer: a listener bus to
    flush and a status tracker whose job ids grow as 'jobs' run."""

    def __init__(self):
        self.jobs: list[int] = []
        bus = SimpleNamespace(waitUntilEmpty=lambda _ms: True)
        sc = SimpleNamespace(listenerBus=lambda: bus)
        tracker = SimpleNamespace(getJobIdsForGroup=lambda _group: list(self.jobs))
        self.sparkContext = SimpleNamespace(
            _jsc=SimpleNamespace(sc=lambda: sc), statusTracker=lambda: tracker
        )

    def run_job(self):
        self.jobs.append(len(self.jobs))


def test_tracer_attributes_jobs_to_the_innermost_span_and_self_time():
    fake = _FakeSpark()
    fake.run_job()  # before any span: belongs to no span
    tr = spans.Tracer(fake, enabled=True)
    with tr.span("job"):
        fake.run_job()
        with tr.span("kmeans.lloyd"):
            fake.run_job()
            fake.run_job()
        with tr.span("sinks.write_csv_single"):
            pass
        fake.run_job()
    names = [s.name for s in tr.spans]
    assert names == ["job", "kmeans.lloyd", "sinks.write_csv_single"]
    assert tr.spans[0].spark_jobs == [1, 4]
    assert tr.spans[1].spark_jobs == [2, 3]
    assert tr.spans[2].spark_jobs == []
    assert tr.subtree(0) == [0, 1, 2]
    assert sorted(tr.subtree_jobs(0)) == [1, 2, 3, 4]
    child = tr.duration(1) + tr.duration(2)
    assert math.isclose(tr.self_time(0), tr.duration(0) - child)


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer()
    with tr.span("job"):
        assert tr.call("x", lambda a: a + 1, 1) == 2
    assert tr.spans == []
