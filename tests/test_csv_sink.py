"""Byte parity of the single-file CSV sink with a one-task write.

``write_csv_single`` writes at the DataFrame's own parallelism and
concatenates the part files.  The expected bytes come from the
single-task layout the reference's ``setParallelism(1)`` sink
describes: ``df.coalesce(1).write.csv`` produces them here, as the test
reference only.
"""

from __future__ import annotations

import glob
import os

import pytest

from flink_kmeans_clustering_spark.sinks import write_csv_single


def _one_task_bytes(df, out_dir: str, header: bool) -> bytes:
    df.coalesce(1).write.option("header", header).csv(out_dir)
    [part] = glob.glob(os.path.join(out_dir, "part-*.csv"))
    with open(part, "rb") as f:
        return f.read()


def _sink_bytes(df, path: str, header: bool) -> bytes:
    assert write_csv_single(df, path, header=header) == path
    with open(path, "rb") as f:
        return f.read()


@pytest.mark.parametrize("header", [False, True])
def test_many_partitions_concatenate_in_partition_order(spark, tmp_path, header):
    # 13 partitions: part-00010..00012 must follow part-00009
    df = spark.range(0, 260, 1, 13).selectExpr("id", "id * 0.5 AS v")
    assert df.rdd.getNumPartitions() == 13
    want = _one_task_bytes(df, str(tmp_path / "ref"), header)
    got = _sink_bytes(df, str(tmp_path / "out.csv"), header)
    assert got == want
    lines = got.decode().splitlines()
    body = lines[1:] if header else lines
    assert [int(line.split(",")[0]) for line in body] == list(range(260))


@pytest.mark.parametrize("header", [False, True])
def test_quoted_values_and_header_match_spark_bytes(spark, tmp_path, header):
    rows = [
        (i, s)
        for i, s in enumerate(
            ['plain', 'a,b', 'say "hi"', 'two\nlines', '', ',"\n', "tail,"] * 3
        )
    ]
    # a column name with a quote and a comma: Spark escapes it as \"
    df = spark.createDataFrame(rows, 'id int, `we"ird,name` string').repartition(5)
    df = df.sortWithinPartitions("id")  # fixed row order in each part
    want = _one_task_bytes(df, str(tmp_path / "ref"), header)
    got = _sink_bytes(df, str(tmp_path / "out.csv"), header)
    assert got == want
    if header:
        assert got.startswith(b'id,"we\\"ird,name"\n')
        assert got.count(b"we\\\"ird") == 1


@pytest.mark.parametrize("header", [False, True])
def test_empty_dataframe(spark, tmp_path, header):
    df = spark.createDataFrame([], "a int, `b,c` string")
    want = _one_task_bytes(df, str(tmp_path / "ref"), header)
    got = _sink_bytes(df, str(tmp_path / "out.csv"), header)
    assert got == want
    assert got == (b'a,"b,c"\n' if header else b"")


def test_overwrites_and_creates_parent_dirs(spark, tmp_path):
    path = str(tmp_path / "a" / "b" / "out.csv")
    write_csv_single(spark.range(5), path, flink_compat=True)
    write_csv_single(spark.range(2), path, flink_compat=True)
    with open(path, "rb") as f:
        assert f.read() == b"0\n1\n"
