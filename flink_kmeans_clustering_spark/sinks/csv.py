"""Single-file CSV sink (S4 parity).

The reference writes each output as exactly one CSV file:
``writeAsCsv(path, "\\n", ",", OVERWRITE).setParallelism(1)``
(``KMeans.java:132,231-233``), headerless.

In Flink only the sink operator runs at parallelism 1.  The Spark
analogue ``df.coalesce(1)`` is narrower than that: it would collapse
the whole upstream stage (a final assignment, the CSV formatting, a
Python-backed scan) into one task.  So the DataFrame is written at its
own parallelism (headerless part files in a scratch directory) and the
driver concatenates the parts in partition-index order — the row order
``coalesce(1)`` produces, so the file is byte-identical to the
single-task write.  With ``header`` the header line is Spark's own
bytes (its quoting, e.g. ``\\"`` escapes), taken from a write of the
empty ``df.limit(0)`` and emitted once.  The concatenation is a
sequential driver-side copy of the output bytes; outputs too large for
one file should use the plain directory writer (``df.write.csv``).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from flink_kmeans_clustering_spark.scratch import scratch_dir

from pyspark.sql import DataFrame

# part-<partition>-<uuid>-c<file within partition>.csv
_PART = re.compile(r"part-(\d+)-.*-c(\d+)\.csv$")


def _parts(out_dir: str) -> list[str]:
    """Part files of one write, in partition-index order (numeric, so
    ``part-00010`` follows ``part-00009`` at any width)."""

    def key(p: str) -> tuple[int, int]:
        m = _PART.search(os.path.basename(p))
        return int(m.group(1)), int(m.group(2))

    return sorted(glob.glob(os.path.join(out_dir, "part-*.csv")), key=key)


def write_csv_single(
    df: DataFrame,
    path: str,
    header: bool = True,
    flink_compat: bool = False,
) -> str:
    """Write ``df`` as ONE csv file at ``path`` (overwrite).

    ``flink_compat=True`` reproduces the reference's exact layout:
    no header row, ``,`` field / ``\\n`` line delimiters.
    """
    if flink_compat:
        header = False
    scratch = scratch_dir("csv_sink_")
    try:
        out_dir = os.path.join(scratch, "out")
        df.write.option("header", False).csv(out_dir)
        sources = _parts(out_dir)
        if header:
            hdr_dir = os.path.join(scratch, "header")
            df.limit(0).write.option("header", True).csv(hdr_dir)
            sources = _parts(hdr_dir) + sources
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "wb") as dst:
            for part in sources:
                with open(part, "rb") as src:
                    shutil.copyfileobj(src, dst, 1 << 20)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return path
