"""catalog_mix: catalog queries on generated sf0.01 fixtures.

One operation is one catalog query: ``spec.spark_fn(spark, sf_dir)`` (the
plan build, including any eager jobs the query function runs) then
``.collect()``. Each timed pass runs every query once in a seeded order.
Two queries spend most of their time building the plan (eager jobs and
plan analysis) and two running it, so a plan-time change and a
data-path change each move a different half; ``op_p50_s`` is the
geometric mean of the queries' median latencies, so every query moves
it. Results are compared with
``tools.compare_oracle.compare_frames`` (exact floats) against DuckDB
oracle results computed once in set-up.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from benchmark import gen_catalog
from benchmark.workloads import Workload, mean

SF = 0.01
FIXTURE_SEED = 42
# two of each half of the catalog, among those with the cheapest cold
# start: warm on 4 cores at sf0.01 the plan-bound ones spend 75-90% of
# their 0.9-1.0 s building the plan, the data-bound ones 70-80% of their
# 0.55-0.85 s running it
PLAN_BOUND = [
    "corpus_group_kfold",
    "emb_topk_diversity",
]
DATA_BOUND = [
    "agg_percentiles",
    "dedup_winnow_pairs",
]
QUERIES = PLAN_BOUND + DATA_BOUND


class CatalogMix(Workload):
    name = "catalog_mix"
    # two timed passes: each query's latency is sampled twice, seconds
    # apart, so one burst of load on the host moves one of its samples
    min_steps = 2

    def setup(self) -> None:
        from tools.compare_oracle import duck_connection

        from sec_dl_spark.plans.catalog import load_all

        self.sf_dir = os.path.join(self.run_dir, "fixtures")
        # fixed fixtures, like the repository's read-only test fixtures;
        # the seed shuffles the query order of each pass
        gen_catalog.write_fixtures(self.sf_dir, FIXTURE_SEED, SF)
        self.specs = load_all()
        con = duck_connection(self.sf_dir)
        con.execute("SET enable_progress_bar = false")
        self.oracle = {q: con.sql(self.specs[q].oracle).df() for q in QUERIES}
        con.close()
        # the truth beside the fixtures: each query's oracle result
        os.makedirs(os.path.join(self.sf_dir, "oracle"))
        for q, odf in self.oracle.items():
            odf.to_parquet(os.path.join(self.sf_dir, "oracle", f"{q}.parquet"))
        self.verified: dict[str, set] = {q: set() for q in QUERIES}
        self.passes = 1
        # two warm passes: the first on parallel threads, where most of the
        # compiling overlaps; the second one query at a time in a fixed
        # order, as the timed loop runs them, without which the first timed
        # pass still runs about 20% slower than the next
        with ThreadPoolExecutor(len(QUERIES)) as pool:
            for fut in [pool.submit(self._run, q, False) for q in QUERIES]:
                fut.result()
        self.passes += 1
        for q in QUERIES:
            self._run(q, timed=False)

    def step(self) -> None:
        order = list(QUERIES)
        random.Random(f"{self.seed}/{self.passes}").shuffle(order)
        self.passes += 1
        for q in order:
            self._run(q, timed=True)

    def _run(self, q: str, timed: bool) -> None:
        col = self.col
        op = f"p{self.passes}.{q}"
        rec = {"op": op, "query": q, "timed": timed, "work": 1 if timed else 0}
        t0 = time.perf_counter()
        try:
            with col.span("catalog.query", op):
                with col.span("plans", op), col.group(op, "build"):
                    df = self.specs[q].spark_fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with col.span("exec", op), col.group(op, "exec"):
                    rows = df.collect()
            t2 = time.perf_counter()
            rec.update(latency=t2 - t0, build_s=t1 - t0, rows=rows, schema=df.schema)
            rec["catalyst"] = col.catalyst_ms(df)
        except Exception as exc:  # noqa: BLE001 — a failed query counts as failed, the loop goes on
            rec.update(latency=time.perf_counter() - t0, build_s=0.0, error=repr(exc)[:300])
        rec["stats"] = col.op_stats(op)
        self.ops.append(rec)

    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o["timed"]]

    def op_p50(self) -> float:
        """Geometric mean over the queries of each one's median latency."""
        by_query: dict[str, list[float]] = {}
        for o in self.timed_ops():
            by_query.setdefault(o["query"], []).append(o["latency"])
        logs = [math.log(statistics.median(v)) for v in by_query.values()]
        return math.exp(sum(logs) / len(logs))

    def check(self) -> None:
        """Every result against its oracle. Identical result sets are
        compared once; the canonical form is the sorted row reprs."""
        from tools.compare_oracle import compare_frames

        for rec in self.ops:
            if "error" in rec:
                rec["ok"] = False
                continue
            key = tuple(sorted(map(repr, rec["rows"])))
            q = rec["query"]
            if key in self.verified[q]:
                rec["ok"] = True
                continue
            sdf = self.spark.createDataFrame(rec["rows"], rec["schema"]).toPandas()
            errs = compare_frames(sdf, self.oracle[q], exact=True)
            rec["ok"] = not errs
            if errs:
                rec["error"] = "; ".join(errs)[:300]
            else:
                self.verified[q].add(key)

    def layer_metrics(self, timed_s: float) -> dict[str, float]:
        m = super().layer_metrics(timed_s)
        ops = [o for o in self.timed_ops() if "error" not in o]
        m["plans.build_s"] = mean(o["build_s"] for o in ops)
        m["plans.build_jobs"] = mean(o["stats"].get("build", {}).get("jobs", 0) for o in ops)
        m["plans.build_share"] = sum(o["build_s"] for o in ops) / sum(o["latency"] for o in ops)
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = mean(o["catalyst"].get(phase, 0.0) for o in ops)
        return m
