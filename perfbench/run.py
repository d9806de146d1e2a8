"""Benchmark of the K-Means engine and its LLM-corpus operators.

Run from the root of a checkout::

    python3 perfbench/run.py --workload kmeans_ref --seed 1 --seconds 10 --trace 0

One run generates the workload's inputs from ``--seed``, starts a Spark
session in a fresh JVM and runs a first job on it (``setup_s`` covers
process start, session start and that first job), runs one more untimed
job, and then runs jobs back to back (a closed loop with one client)
until ``--seconds`` have passed and at least ``MIN_JOBS`` were timed.
Every job's outputs are checked against numpy oracles.  The last line of stdout is one JSON object: end-to-end metrics
with ``--trace 0``; per-layer metrics with ``--trace 1``, where traced and
untraced jobs alternate, spans are kept in memory and written to
``.perfbench_out/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_kmeans_clustering_spark"

WARM_JOBS = 1  # untimed jobs after the set-up job: JIT, codegen caches
MIN_JOBS = 3  # timed jobs per run, even when --seconds is short
MIN_TRACED = 2  # traced and untraced jobs each in a traced run
DEADLINE_S = 65.0  # start no more timed jobs after this much wall time...
HARD_DEADLINE_S = 120.0  # ...and none at all after this much, timed or not
DRIVER_MEMORY = "2g"
# Host-speed calibration: ``calibrate()`` took this long on the host the
# bounds were tuned on.  The time metrics are scaled by CAL_REF_S / the
# run's own median calibration, which cancels the host getting faster or
# slower between runs (measured on a shared 4-core VM: ±30 % within ten
# minutes, tracked within a few % by this loop).  Raw times are on the
# summary line.
CAL_REF_S = 0.150


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)


class Session:
    """One Spark session with its own JVM, started and stopped."""

    def __init__(self, work: str):
        from pyspark import SparkContext

        from flink_kmeans_clustering_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                    f"-Xms{DRIVER_MEMORY}"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.gateway = SparkContext._gateway  # noqa: SLF001
        self.jvm_pid = self.gateway.proc.pid

    def stop(self) -> None:
        """Stop the context and the JVM, then wait for every child process."""
        from pyspark import SparkContext

        from spans import descendants

        kids = descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            self.gateway.shutdown()
            proc = self.gateway.proc
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a stuck JVM is killed below
                proc.kill()
                proc.wait(timeout=10)
            SparkContext._gateway = None  # noqa: SLF001
            SparkContext._jvm = None  # noqa: SLF001
            _reap(kids)


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while os.path.exists(f"/proc/{p}"):
            time.sleep(0.05)


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop on one core.  It touches no
    Spark and no package code, so only the host's speed moves it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE}/ package next to {os.path.basename(HERE)}/: nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)

    import jobs

    if args.workload not in jobs.workloads():
        log(f"unknown workload {args.workload!r}; choose from {sorted(jobs.workloads())}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        return measure(args, jobs, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, jobs, work: str) -> int:
    import layers
    from spans import StatusStore, Tracer, vm_hwm_mb

    import_s = time.perf_counter() - T_PROCESS
    cal_s = [calibrate()]
    wl = jobs.workloads()[args.workload]()
    wl.prepare(work, args.seed)  # inputs: part of no metric
    sess = Session(work)
    spark = sess.spark
    try:
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        store = StatusStore(spark) if args.trace else None
        tracer = Tracer(spark, enabled=bool(args.trace))
        attempted = failed = 0
        quality: dict[str, list[float]] = {}

        def one(traced: bool) -> tuple[float, bool]:
            """Run, time and check one job: (seconds, passed)."""
            nonlocal attempted, failed
            attempted += 1
            tracer.job_id = attempted
            tr = tracer if traced else Tracer()
            t0 = time.perf_counter()
            try:
                with tr.span("job"):
                    res = wl.run(spark, tr)
                dt = time.perf_counter() - t0
                cal_s.append(calibrate())
                chk = wl.check(res)
            except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
                failed += 1
                log(f"job {attempted} raised:\n{traceback.format_exc()}")
                return time.perf_counter() - t0, False
            finally:
                spark.catalog.clearCache()
            log(f"job {attempted}{' traced' if traced else ''}: {dt:.3f} s")
            for k, v in chk.quality.items():
                quality.setdefault(k, []).append(v)
            if chk.failures:
                failed += 1
                log(f"job {attempted} failed its checks: {chk.failures}")
            return dt, not chk.failures

        # the first job warms the new session up and belongs to set-up
        warmup_s, _ = one(traced=False)
        setup_s = import_s + sess.start_s + warmup_s
        for _ in range(WARM_JOBS):
            one(traced=False)
        plain_s: list[float] = []
        traced_s: list[float] = []
        t_begin = time.perf_counter()
        while True:
            have = min(len(plain_s), len(traced_s)) if args.trace else len(plain_s)
            need = MIN_TRACED if args.trace else MIN_JOBS
            now = time.perf_counter()
            if (
                (now - t_begin >= args.seconds and have >= need)
                or (now - T_PROCESS > DEADLINE_S and have >= 1)
                or now - T_PROCESS > HARD_DEADLINE_S
            ):
                break
            traced = bool(args.trace) and len(plain_s) > len(traced_s)
            dt, ok = one(traced)
            if ok:
                (traced_s if traced else plain_s).append(dt)

        jvm_hwm = vm_hwm_mb(sess.jvm_pid)
        peak_rss_mb = vm_hwm_mb(os.getpid()) + jvm_hwm
        if not plain_s:
            log("no job passed its checks")
            return 1
        q1, job_s, q3 = quartiles(plain_s)
        calib = statistics.median(cal_s)
        host = CAL_REF_S / calib
        e2e = {
            "setup_s": (setup_s * host, "s"),
            "job_s": (job_s * host, "s"),
            "rows_per_s": (wl.input_rows / (job_s * host), "rows/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "jobs_timed": len(plain_s),
            "host_calib_s": calib,
            "host_scale": host,
            "raw_setup_s": setup_s,
            "raw_job_s": job_s,
            "raw_job_s_q1": q1,
            "raw_job_s_q3": q3,
            "failed_frac": failed / attempted,
            "peak_rss_jvm_mb": jvm_hwm,
            **{k: statistics.median(v) for k, v in quality.items()},
        }
        print("summary " + json.dumps(summary))
        if args.trace:
            t_scan = []
            for _ in range(3):
                t0 = time.perf_counter()
                wl.scan(spark)
                t_scan.append(time.perf_counter() - t0)
            store.refresh()
            per_layer, table = layers.summarize(
                tracer,
                store,
                wl,
                cores=cores,
                session_s=(sess.start_s, warmup_s),
                calib_s=calib,
                scan_s=statistics.median(t_scan),
                plain_s=plain_s,
                traced_s=traced_s,
                quality=quality,
                failed_frac=failed / attempted,
            )
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.dump(stem + "-spans.jsonl", t0=T_PROCESS)
            with open(stem + "-layers.json", "w", encoding="utf-8") as f:
                json.dump({"metrics": per_layer, "self_time": table}, f, indent=1)
            for line in layers.format_table(table):
                print(line)
            for name, (v, unit) in sorted(per_layer.items()):
                print(f"layer {name} = {v:.6g} {unit}")
            metrics = layers.select(per_layer)
        else:
            metrics = e2e
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        sess.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
