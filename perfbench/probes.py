"""Measurement from outside the engine: process memory and CPU from
/proc, and the traced run's spans with the Spark counters read at
each span boundary (job groups via statusTracker, stage data from the
status store, executed-plan SQL metrics, JVM GC beans).

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * PAGE_KB / 1024.0


def cpu_s(pid: int) -> float:
    """utime + stime of a process (all its threads), in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat):
    the host noise a run's timings carry."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def child_pids(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(d))
        except (OSError, ValueError, IndexError):
            continue
    return out


class RssSampler:
    """Peak of (driver JVM + Python process) resident memory, sampled
    every `period` seconds on a daemon thread."""

    def __init__(self, pids: list[int], period: float = 0.1):
        self.pids, self.period = pids, period
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        try:
            self.peak = max(self.peak, sum(rss_mb(p) for p in self.pids))
        except OSError:
            pass

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()


class Tracer:
    """Spans around the benchmark's own calls into each layer.

    Disabled (the untraced run), `span` only yields. Enabled, every
    span gets its own Spark job group, so the jobs a call submits
    (including a library's eager construct-phase jobs) are attributed
    to the innermost open span of the submitting thread; JVM GC time
    is read at both boundaries. Job → stage → counter resolution runs
    once in `finish`, after the listener bus has drained."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()
        if enabled:
            mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    @contextmanager
    def span(self, name: str, req: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
                   "req": req if req is not None else (stack[-1]["req"] if stack else None),
                   "group": f"pb{os.getpid()}s{sid}", **attrs}
            self.spans.append(rec)
        stack.append(rec)
        sc.setJobGroup(rec["group"], name, False)
        rec["gc0"] = self.gc_ms()
        t_start = time.perf_counter()
        rec["start"] = t_start - self._t0
        try:
            yield rec
        finally:
            t_end = time.perf_counter()
            rec["end"] = t_end - self._t0
            rec["gc_ms"] = self.gc_ms() - rec.pop("gc0")
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1]["group"], stack[-1]["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            # bookkeeping time this span added around the measured call
            rec["overhead_s"] = (t_start - t_in) + (time.perf_counter() - t_end)

    def plan_metrics(self, rec: dict | None, df) -> None:
        """Executed-plan SQL metrics of the action just run on `df`
        (AQE final plan, query stages followed): rows out of the plan,
        and Arrow/pandas-UDF Python time."""
        if rec is None:
            return
        py_ms = 0.0
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            p = todo.pop()
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(p.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(p.plan())
                continue
            it = p.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "pythonTotalTime":
                    m = kv._2()
                    v = float(m.value())
                    py_ms += v / 1e6 if m.metricType() == "nsTiming" else v
            ch = p.children().iterator()
            while ch.hasNext():
                todo.append(ch.next())
        rec["python_eval_ms"] = rec.get("python_eval_ms", 0.0) + py_ms

    def finish(self) -> None:
        """Resolve each span's job group to its jobs and stages."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — private API; fall back to a pause
            time.sleep(1.0)
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
            for s in stages:
                for sd in _stage_data(store, jvm, s):
                    if str(sd.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec.update(c)


def _stage_data(store, jvm, stage_id: int) -> list:
    try:
        seq = store.stageData(stage_id, False, jvm.java.util.ArrayList(), False, None)
    except Exception:  # noqa: BLE001 — evicted or never-run stage
        return []
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover (the
    children of one span never overlap: one thread, sequential)."""
    child: dict[int, float] = {}
    for s in spans:
        if s.get("parent") is not None and "end" in s:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0) for s in spans if "end" in s}
