"""Serving-and-curation benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 30 --trace 0

Workloads (BENCHMARK.json, perfbench/WORKLOADS.md):
  serve_mixed  2 analysts on the api.SearchEngine facade (d=64) and one
               image-similarity client on the d=768 exact-scan and LSH
               operators, closed loop
  curate       the dedup → curation chain over a corpus no index has seen

The run starts Spark in this process with the library's default
settings and its own warehouse, spill and temp directories under
`.perfbench_run/` in the checkout (deleted at exit), sets the workload
up once, runs its fixed set of requests (whatever --seconds is, so a
faster program is timed on the same requests), checks every output,
and prints as its LAST stdout line one JSON object {"correct",
"attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line
before it is a JSON detail report (sample counts, failures by request
type, layer self times); a traced run also writes its spans to
`.perfbench_run/spans-<workload>-<seed>.json`.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s runs from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import report  # noqa: E402


def _env(run_dir: str, trace: bool) -> None:
    """Confine every file Spark, the JVM and Python write to run_dir. A
    traced run also keeps every job and stage in the status store, so
    the spans can resolve their job groups at the end."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
            + (["--conf spark.ui.retainedJobs=100000", "--conf spark.ui.retainedStages=100000"] if trace else [])
            + [f"--driver-java-options '-Djava.io.tmpdir={tmp}'", "pyspark-shell"]
        ),
    )
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark, the JVM it launched and the JVM's Python workers, and
    wait until each has exited."""
    from pyspark import SparkContext

    from perfbench.probes import child_pids

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = child_pids(proc.pid) if proc is not None else []
    try:
        spark.stop()
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a terminated run's gateway is already broken
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(report.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before starting anything when the engine is not beside us
    import multi_search_retrival_big_data_spark  # noqa: F401

    # a terminated run still stops Spark and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_root = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(run_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        _env(run_dir, bool(args.trace))
        from multi_search_retrival_big_data_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        result, detail = report.run_workload(spark, args, run_dir, T_PROCESS, session_s)
        if args.trace:
            os.makedirs(run_root, exist_ok=True)
            with open(os.path.join(run_root, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(detail.pop("spans"), f)
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
