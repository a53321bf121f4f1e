"""Runs one workload and turns its samples and spans into the report."""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

from perfbench import curate, probes, serve

WORKLOADS = {"serve_mixed": serve, "curate": curate}

# end-to-end metrics (--trace 0), name → unit
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
}
# per-layer metrics (--trace 1), name → unit: the ones every workload
# exercises. The workload-specific breakdown (per facade method, chain
# stage and index kind), spill bytes, Python UDF time and the dedup
# candidate ratio are in the detail report's "layers" entry
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "index_store.build_s": "s",
    "index_store.rows_written": "count",
    "index_store.lookup_ms": "ms",
    "request.construct_ms": "ms",
    "request.action_ms": "ms",
    "request.construct_jobs": "count",
    "request.action_jobs": "count",
    "request.self_ms": "ms",
    "spark.stages_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.shuffle_write_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "driver.python_cpu_share": "ratio",
    "trace.overhead_ms_per_request": "ms",
}


def run_workload(spark, args, run_dir: str, t_process: float, session_s: float) -> tuple[dict, dict]:
    """Set up, run the loop, check every output. setup_s runs from
    `t_process` (the perf_counter reading at process start) until the
    loop can begin: session start plus the workload's own set-up."""
    wl = WORKLOADS[args.workload]
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    tracer = probes.Tracer(spark, enabled=bool(args.trace))
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "seconds": args.seconds, "session_start_s": session_s}
    with probes.RssSampler([os.getpid(), jvm_pid]) as rss:
        own_setup_s, state = wl.setup(spark, tracer, run_dir, args.seed)
        setup_s = time.perf_counter() - t_process
        gc0 = tracer.gc_ms() if args.trace else 0.0
        cpu0 = (time.process_time(), probes.cpu_s(jvm_pid))
        steal0 = probes.steal_s()
        samples, wall = wl.run_loop(spark, tracer, state, args.seed, args.seconds)
        detail["loop_cpu_steal_s"] = probes.steal_s() - steal0
        cpu1 = (time.process_time(), probes.cpu_s(jvm_pid))
        loop_gc = tracer.gc_ms() - gc0 if args.trace else 0.0
        t0 = time.perf_counter()
        wl.check(spark, samples, state, args.seed)
        detail["check_s"] = time.perf_counter() - t0
        extra = wl.layer_probes(spark, state, samples) if args.trace else {}
        tracer.finish()
    ok = [s for s in samples if not s["fail"]]
    failed = [s for s in samples if s["fail"]]
    if hasattr(wl, "latencies"):
        lat = wl.latencies(samples, wall)
    else:
        lat = [1000.0 * (s["t1"] - s["t0"]) for s in ok]
    p90 = hd_quantile(lat, 0.9) if lat else float("nan")
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": hd_quantile(lat, 0.5) if lat else float("nan"),
        "latency_p90_ms": p90,
        # serve_mixed: correct requests/s; curate: input documents/s of the pass
        "throughput_per_s": wl.throughput(ok, state, wall),
        "peak_rss_mb": rss.peak,
    }
    detail.update(
        end_to_end=e2e,
        workload_setup_s=own_setup_s,
        loop_wall_s=wall,
        attempted=len(samples),
        latency_samples=len(lat),
        samples_beyond_p90=sum(1 for x in lat if x > p90),
        oracle_checked=sum(1 for s in samples if s.get("oracle")),
        error_rate=len(failed) / max(1, len(samples)),
        attempted_by_type=_by_kind(samples),
        failures_by_type=_by_kind(failed),
        degenerate_by_type=_by_kind([s for s in samples if s.get("degenerate")]),
        failure_examples=[(s["kind"], s["fail"][:2]) for s in failed[:5]],
        latency_p50_ms_by_type={
            k: statistics.median(1000.0 * (s["t1"] - s["t0"]) for s in ok if s["kind"] == k)
            for k in _by_kind(ok)
        },
        **wl.describe(samples, state),
        samples=[(s["kind"], round(1000.0 * (s["t1"] - s["t0"]), 1), bool(s["fail"])) for s in samples],
    )
    if args.trace:
        per_layer, layers = _per_layer(tracer.spans, session_s, loop_gc, cpu0, cpu1, extra, rss.peak)
        metrics = {k: {"value": float(per_layer[k]), "unit": u} for k, u in PER_LAYER.items()}
        detail["layers"] = layers
        detail["spans"] = tracer.spans
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": not failed, "attempted": len(samples), "failed": len(failed), "metrics": metrics}
    return result, detail


def hd_quantile(xs, p: float) -> float:
    """Harrell–Davis estimate of the p-quantile: the Beta((n+1)p,
    (n+1)(1-p))-weighted average of all order statistics. A run's
    latencies cluster by request type, and a single order statistic
    jumps between clusters when the middle sample changes sides; the
    weighted average moves smoothly."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    g = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(g) + (b - 1) * np.log1p(-g) - (math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2 * np.diff(g))])
    w = np.diff(np.interp(np.arange(n + 1) / n, g, cdf / cdf[-1]))
    return float(w @ x)


def _by_kind(samples) -> dict:
    out: dict[str, int] = {}
    for s in samples:
        out[s["kind"]] = out.get(s["kind"], 0) + 1
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _per_layer(spans, session_s, loop_gc, cpu0, cpu1, extra, rss_peak) -> tuple[dict, dict]:
    """Per-layer metrics from the spans. A request is one facade or
    operator call (serve_mixed) or chain stage (curate); its span has a
    construct and an action child. Self time = span duration minus its children's."""
    selft = probes.self_times(spans)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    reqs = [s for s in spans if s["parent"] is None and s["name"].split(".")[0] in ("api", "queries", "dense", "ann")]

    def total(r, key):
        return r.get(key, 0) + sum(total(c, key) for c in kids.get(r["id"], []))

    # per request (facade call, operator call or chain stage) that
    # reached its action (a documented error can end one in construct):
    # construct and action time and jobs
    phases = []
    for r in reqs:
        ph = {c["name"].rsplit(".", 1)[1]: c for c in kids.get(r["id"], [])}
        if "action" not in ph:
            continue
        c, a = ph["construct"], ph["action"]
        phases.append((r["name"], 1000 * (c["end"] - c["start"]), 1000 * (a["end"] - a["start"]),
                       c.get("jobs", 0), a.get("jobs", 0)))
    layers: dict = {}
    for name in sorted({p[0] for p in phases}):
        mine = [p for p in phases if p[0] == name]
        layers[name] = {
            "n": len(mine),
            "construct_ms": statistics.median(p[1] for p in mine),
            "action_ms": statistics.median(p[2] for p in mine),
            "construct_jobs": _mean(p[3] for p in mine),
            "action_jobs": _mean(p[4] for p in mine),
        }
    # index builds, one of each kind per run (set-up on serve_mixed, the
    # pass on curate)
    builds = {s["name"].rsplit(".", 1)[1]: s["end"] - s["start"]
              for s in spans if s["name"].startswith("index_store.build.")}
    layers["index_store.build_s"] = builds
    layers.update(extra)
    # every call outside the requests: set-up, corpus.write,
    # index_store.build.*, api.engine_init
    in_req = {r["id"] for r in reqs} | {c["id"] for r in reqs for c in kids.get(r["id"], [])}
    durs: dict[str, list[float]] = {}
    for s in spans:
        if s["id"] not in in_req:
            durs.setdefault(s["name"], []).append(s["end"] - s["start"])
    layers["call_median_s"] = {k: statistics.median(v) for k, v in sorted(durs.items())}
    # self time per layer, summed over the whole run
    self_s: dict[str, float] = {}
    for s in spans:
        tail = s["name"].rsplit(".", 1)[-1]
        layer = tail if tail in ("construct", "action") else s["name"].split(".")[0]
        self_s[layer] = self_s.get(layer, 0.0) + selft[s["id"]]
    layers["self_s"] = self_s
    n = max(1, len(reqs))
    spark_tot = {k: sum(total(r, k) for r in reqs) for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes", "python_eval_ms")}
    layers["spark"] = {k: v / n for k, v in spark_tot.items()}
    layers["jvm.gc_ms_in_requests"] = sum(total(r, "gc_ms") for r in reqs)
    overhead_ms = 1000 * _mean(total(r, "overhead_s") for r in reqs)
    py_cpu, jvm_cpu = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    per_layer = {
        "process.peak_rss_mb": rss_peak,
        "session.start_s": session_s,
        "index_store.build_s": sum(builds.values()),
        "index_store.rows_written": sum(extra.get("index_store.rows_written", {}).values()),
        "index_store.lookup_ms": extra.get("index_store.lookup_ms", 0.0),
        "request.construct_ms": statistics.median(p[1] for p in phases) if phases else 0.0,
        "request.action_ms": statistics.median(p[2] for p in phases) if phases else 0.0,
        "request.construct_jobs": _mean(p[3] for p in phases),
        "request.action_jobs": _mean(p[4] for p in phases),
        "request.self_ms": 1000 * _mean(selft[r["id"]] for r in reqs),
        "spark.stages_per_request": spark_tot["stages"] / n,
        "spark.tasks_per_request": spark_tot["tasks"] / n,
        "spark.shuffle_write_bytes": spark_tot["shuffle_write_bytes"] / n,
        "jvm.gc_ms": loop_gc,
        "driver.python_cpu_share": py_cpu / (py_cpu + jvm_cpu) if py_cpu + jvm_cpu > 0 else 0.0,
        "trace.overhead_ms_per_request": overhead_ms,
    }
    return per_layer, layers
