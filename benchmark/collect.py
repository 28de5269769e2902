"""Outside-in per-layer collection: Spark job groups per operation, stage
metrics from the driver's status store, Catalyst phase timings and spans.

Everything here observes the program from the benchmark's side of the
public API; nothing inside ``sec_dl_spark`` is instrumented. Each operation
runs its plan building under the job group ``<op>:build`` and its
execution under ``<op>:exec``, so jobs the package starts while a plan is
built (eager pins, guard jobs, bloom builds) are counted apart from the
jobs of the final action.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

STAGE_FIELDS = ("stages", "tasks", "run_s", "cpu_s", "input_mb", "shuffle_read_mb",
                "shuffle_write_mb", "stage_wall_s")


class Collector:
    """Per-run collector. With ``trace=False`` it only sets job groups (a
    thread-local property, no job) so timed and traced runs execute the
    same program; with ``trace=True`` it also reads the status store after
    each operation, records spans and counts its own bookkeeping time."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.spans: list[dict] = []
        self._local = threading.local()  # span stack per thread
        self._lock = threading.Lock()
        self.overhead_s = 0.0
        self._next_job = 0

    @contextlib.contextmanager
    def group(self, op: str, phase: str):
        """Run the body under the job group ``<op>:<phase>``."""
        self.sc.setJobGroup(f"{op}:{phase}", f"{op} {phase}", False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, layer: str, op: str):
        """One span per call into a layer: name, start, end, parent, op."""
        if not self.trace:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": layer, "op": op,
                   "parent": stack[-1] if stack else None,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def skip(self) -> None:
        """Leave every job started so far out of the next ``op_stats``."""
        if self.trace:
            self.op_stats("")

    def op_stats(self, op: str) -> dict:
        """Jobs and stage totals of every job started since the previous
        call, keyed by phase: jobs of the group ``<op>:<phase>`` count under
        ``<phase>``, jobs of any other group under ``other`` (a streaming
        query runs its batches under its own run id).
        Only in traced runs; waits for the listener bus first so the status
        store holds the finished jobs."""
        if not self.trace:
            return {}
        with self._lock:
            return self._op_stats(op)

    def _op_stats(self, op: str) -> dict:
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        out: dict[str, dict] = {}
        intervals: dict[str, list] = {}
        jid = self._next_job
        while True:
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 — no such job (yet): done
                break
            jid += 1
            group = job.jobGroup()
            group = group.get() if group.isDefined() else ""
            phase = group[len(op) + 1:] if group.startswith(f"{op}:") else "other"
            tot = out.setdefault(phase, dict.fromkeys(("jobs",) + STAGE_FIELDS, 0.0))
            tot["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                try:
                    sd = store.lastStageAttempt(it.next())
                except Exception:  # noqa: BLE001 — stage evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                tot["run_s"] += sd.executorRunTime() / 1e3
                tot["cpu_s"] += sd.executorCpuTime() / 1e9
                tot["input_mb"] += sd.inputBytes() / 1e6
                tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.setdefault(phase, []).append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        self._next_job = jid
        for phase, tot in out.items():
            tot["stage_wall_s"] = _union_length(intervals.get(phase, []))
        self.overhead_s += time.perf_counter() - t0
        return out

    def catalyst_ms(self, df) -> dict:
        """Catalyst phase durations of ``df``'s query execution (ms):
        analysis, optimization and physical planning."""
        if not self.trace:
            return {}
        t0 = time.perf_counter()
        phases = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = float(kv._2().durationMs())
        with self._lock:
            self.overhead_s += time.perf_counter() - t0
        return phases

    def driver_rss_mb(self) -> float:
        """Resident memory of the driver: the JVM plus this Python process."""
        total = _rss_kb(os.getpid())
        gw = getattr(self.sc._gateway, "proc", None)
        if gw is not None:
            total += _rss_kb(gw.pid)
        return total / 1024.0

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of its
        interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_length(children.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, dur - covered)
        return out


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _rss_kb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def quantile(values, q: float) -> float:
    """Quantile ``q`` (0..1) with linear interpolation between ranks."""
    vals = sorted(values)
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def tail(values, min_beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least ``min_beyond``
    samples beyond it, and its value: (percentile, value)."""
    n = len(values)
    if n <= min_beyond:
        return 50.0, quantile(values, 0.5)
    pct = max(50.0, 100.0 * (1.0 - min_beyond / n))
    return pct, quantile(values, pct / 100.0)
