"""End-to-end CLI run on generated inputs (no reference fixture needed).

``cli.main`` reads a seeded blob CSV and a centroids CSV, runs Lloyd
and writes the reference's three single-file outputs.  The files are
checked against a float64 numpy Lloyd from the same init.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from flink_kmeans_clustering_spark import cli

N_POINTS = 3_000
ITERATIONS = 6
REL = 1e-9


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    rng = np.random.default_rng(42)
    centers = rng.uniform(-10, 10, size=(5, 2))
    pts = centers[rng.integers(0, 5, N_POINTS)] + rng.normal(0, 0.6, (N_POINTS, 2))
    # id 9 starts far away, wins no point and is dropped after superstep 1
    init = np.vstack([centers[:4] + rng.uniform(-2, 2, size=(4, 2)), [[1e4, 1e4]]])
    ids = np.array([0, 1, 2, 3, 9])
    d = tmp_path_factory.mktemp("cli_in")
    with open(d / "points.csv", "w") as f:
        f.write("X,Y\n")
        f.writelines(f"{x!r},{y!r}\n" for x, y in pts.tolist())
    with open(d / "centroids.csv", "w") as f:
        f.write("Cluster,X,Y\n")
        f.writelines(f"{i},{x!r},{y!r}\n" for i, (x, y) in zip(ids, init.tolist()))
    return str(d), pts, ids, init


def _numpy_lloyd(pts, ids, cents, iterations):
    """Reference semantics: lowest-id ties, empty clusters dropped."""
    for _ in range(iterations):
        d2 = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        keep = np.bincount(a, minlength=len(ids)) > 0
        cents = np.array([pts[a == j].mean(0) for j in np.flatnonzero(keep)])
        ids = ids[keep]
    d2 = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    a = d2.argmin(1)
    return ids, cents, np.bincount(a, minlength=len(ids)), float(d2.min(1).sum())


def _run(inputs, tmp_path, extra):
    in_dir = inputs[0]
    out = {k: str(tmp_path / f"{k}.csv") for k in ("points", "centroids", "objfun")}
    rc = cli.main(
        [
            "-points", os.path.join(in_dir, "points.csv"),
            "-centroids", os.path.join(in_dir, "centroids.csv"),
            "-iterations", str(ITERATIONS),
            "-pointsout", out["points"],
            "-centroidsout", out["centroids"],
            "-objfunout", out["objfun"],
            *extra,
        ]
    )
    assert rc == 0
    lines = {}
    for k, p in out.items():
        assert os.path.isfile(p), f"{k} output is not one file"
        with open(p) as f:
            lines[k] = f.read().splitlines()
    return lines


def _check_against_numpy(inputs, body):
    _, pts, ids, init = inputs
    o_ids, o_cents, o_counts, o_wcss = _numpy_lloyd(pts, ids, init, ITERATIONS)
    rows = [line.split(",") for line in body["points"]]
    assert len(rows) == N_POINTS
    got = np.bincount([int(r[0]) for r in rows], minlength=int(o_ids.max()) + 1)
    assert got[o_ids].tolist() == o_counts.tolist() and got.sum() == N_POINTS
    cents = [line.split(",") for line in body["centroids"]]
    assert [int(c[0]) for c in cents] == o_ids.tolist()
    np.testing.assert_allclose(
        [[float(c[1]), float(c[2])] for c in cents], o_cents, rtol=REL, atol=0
    )
    [obj] = body["objfun"]
    assert float(obj) == pytest.approx(o_wcss, rel=REL)


def test_cli_writes_three_headerless_single_files(spark, inputs, tmp_path, capsys):
    lines = _run(inputs, tmp_path, [])
    # every line parses as data: a header row would fail the int/float
    # parse and the row count
    _check_against_numpy(inputs, lines)
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["iterations"] == ITERATIONS and rec["k"] == 4


def test_cli_header_written_exactly_once(spark, inputs, tmp_path):
    lines = _run(inputs, tmp_path, ["--header"])
    headers = {"points": "cluster,x,y", "centroids": "id,x,y", "objfun": "wcss"}
    for k, head in headers.items():
        assert lines[k][0] == head
        assert lines[k].count(head) == 1
    _check_against_numpy(inputs, {k: body[1:] for k, body in lines.items()})
