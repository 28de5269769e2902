"""Workload registry and the metric vocabulary every workload reports.

Every run reports the same metric names so runs of any workload compare:
the end-to-end metrics in untraced runs, the per-layer metrics in traced
runs. A per-layer metric of a layer the workload never calls reads 0 (the
prediction for a workload that bypasses the layer).
"""

from __future__ import annotations

import statistics

from benchmark.collect import tail

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "work_per_s": "1/s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.driver_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "frac",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB",
    "exec.driver_other_s": "s",
    "op.tail_s": "s",
    "op.tail_pct": "pct",
    "op.samples": "count",
    "sources.idx_rows_parsed": "count",
    "sources.idx_kept_frac": "frac",
    "ingest.load_s": "s",
    "ingest.files_written": "count",
    "ingest.mb_written": "MB",
    "scrape.s": "s",
    "scrape.fetches": "count",
    "scrape.fetch_failures": "count",
    "scrape.retried": "count",
    "scrape.stage_run_s": "s",
    "monitor.s": "s",
    "monitor.pending": "count",
    "fts.search_build_s": "s",
    "fts.search_collect_s": "s",
    "fts.search_tasks": "count",
    "fts.search_input_mb": "MB",
    "index.append_s": "s",
    "index.append_jobs": "count",
    "index.open_s": "s",
    "index.freshness_p50_s": "s",
    "index.files": "count",
    "index.bytes_per_text_byte": "ratio",
    "corpus.build_docs_per_s": "1/s",
    "corpus.append_docs_per_s": "1/s",
    "corpus.build_jobs": "count",
    "corpus.append_jobs": "count",
    "corpus.shuffle_write_mb": "MB",
    "corpus.output_files": "count",
    "dedup.exact_recall": "frac",
    "dedup.near_recall": "frac",
    "dedup.near_false_drops": "count",
    "trace.op_p50_s": "s",
    "trace.overhead_frac": "frac",
}


class Workload:
    """One closed-loop client. Subclasses fill ``self.ops`` with one record
    per operation: ``op`` (id), ``latency`` (s), ``work`` (items done),
    ``ok`` (set by ``check``) and, in traced runs, ``stats`` from
    ``Collector.op_stats``."""

    name = ""
    # whole steps the timed loop runs even when --seconds are up sooner,
    # and the most it runs however soon they end (None: no limit)
    min_steps = 1
    max_steps: int | None = None

    def __init__(self, spark, col, run_dir: str, seed: int):
        self.spark = spark
        self.col = col
        self.run_dir = run_dir
        self.seed = seed
        self.ops: list[dict] = []

    def setup(self) -> None:
        raise NotImplementedError

    def step(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def timed_ops(self) -> list[dict]:
        """The operations the latency metrics cover."""
        return self.ops

    def units(self) -> dict[str, str]:
        return {**E2E_UNITS, **LAYER_UNITS}

    def op_p50(self) -> float:
        """``op_p50_s``: the median latency of the timed operations."""
        return statistics.median(o["latency"] for o in self.timed_ops())

    def e2e_metrics(self, timed_s: float) -> dict[str, float]:
        return {
            "op_p50_s": self.op_p50(),
            "work_per_s": sum(o["work"] for o in self.ops) / timed_s,
        }

    def layer_metrics(self, timed_s: float) -> dict[str, float]:
        """Zero for every layer, then the shared exec and tail numbers;
        subclasses add their own layers."""
        m = dict.fromkeys(LAYER_UNITS, 0.0)
        ops = self.timed_ops()
        lat = [o["latency"] for o in ops]
        pct, val = tail(lat)
        m["op.tail_s"], m["op.tail_pct"], m["op.samples"] = val, pct, float(len(lat))
        m["trace.op_p50_s"] = self.op_p50()
        n = len(ops)
        for key, field in (("exec.jobs", "jobs"), ("exec.stages", "stages"),
                           ("exec.tasks", "tasks"), ("exec.executor_run_s", "run_s"),
                           ("exec.executor_cpu_s", "cpu_s"),
                           ("exec.shuffle_read_mb", "shuffle_read_mb"),
                           ("exec.shuffle_write_mb", "shuffle_write_mb"),
                           ("exec.input_mb", "input_mb")):
            m[key] = sum(phase_total(o["stats"], field) for o in ops) / n
        m["exec.driver_other_s"] = sum(
            o["latency"] - o.get("build_s", 0.0) - phase_total(o["stats"], "stage_wall_s")
            for o in ops) / n
        return m


def phase_total(stats: dict, field: str) -> float:
    """Sum of ``field`` over an operation's job phases, except the jobs
    started while its plan was built (those are ``plans.build_jobs``)."""
    return sum(v[field] for k, v in stats.items() if k != "build")


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def make(name: str, spark, col, run_dir: str, seed: int) -> Workload:
    if name == "catalog_mix":
        from benchmark.wl_catalog import CatalogMix as cls
    elif name == "edgar_ingest":
        from benchmark.wl_edgar import EdgarIngest as cls
    elif name == "fts_serve":
        from benchmark.wl_fts import FtsServe as cls
    elif name == "corpus_build":
        from benchmark.wl_corpus import CorpusBuild as cls
    else:
        raise ValueError(f"unknown workload {name!r}")
    return cls(spark, col, run_dir, seed)

