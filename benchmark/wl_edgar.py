"""edgar_ingest: quarterly waves of the reference pipeline.

One operation is one wave, in the order ``sec_dl_spark.__main__.main``
runs the stages: a generated quarter's ``master.idx`` lands, then
``parse_master_idx`` -> ``build_filings`` -> ``write_filings``, then
``pending_filings`` -> ``scrape_pending`` (with the generated-SGML
fetcher, on one partition per core) -> ``apply_text_updates`` -> write,
then ``scrape_progress``.
State carries from wave to wave: filings that failed their first fetch
stay pending and are retried by the next wave. The text table is
partitioned by quarter and each wave rewrites only the quarters it
touches (dynamic partition overwrite), so a wave's cost does not grow
with the number of waves before it.
"""

from __future__ import annotations

import functools
import os
import time

from benchmark import gen_edgar
from benchmark.workloads import Workload, mean

# one twenty-fifth of the reference's quarter (400k master.idx rows ->
# 32.7k kept filings): 16k rows -> 1,312 filings per wave
IDX_ROWS = 16_000
# the untimed warm wave runs every stage on an eighth of a quarter: its
# cost is mostly compiling, which does not depend on the rows
WARM_IDX_ROWS = 2_000


def counted_fetch(path, seed, landing, plan, counters):
    """``gen_edgar.fetch_filing`` plus accumulator counts: fetches,
    failures, and fetches of filings from an earlier quarter (retries)."""
    fetches, failures, retried = counters
    fetches.add(1)
    if path is not None and f"/{landing}-" not in path:
        retried.add(1)
    try:
        return gen_edgar.fetch_filing(path, seed, landing, plan)
    except (OSError, ValueError):
        failures.add(1)
        raise


class EdgarIngest(Workload):
    name = "edgar_ingest"
    # two timed waves: one burst of load on the host moves one sample
    min_steps = 2

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from sec_dl_spark.sources.csv_seeds import load_companies_csv, load_filing_types_csv

        self.F = F
        self.in_dir = os.path.join(self.run_dir, "edgar")
        self.base = os.path.join(self.run_dir, "warehouse-edgar")
        os.makedirs(self.in_dir)
        self.seeds = gen_edgar.write_seeds(self.in_dir, self.seed)
        with self.col.span("sources", "seed"):
            self.companies = load_companies_csv(self.spark, os.path.join(self.in_dir, "companies.csv"))
            self.filing_types = load_filing_types_csv(
                self.spark, os.path.join(self.in_dir, "filing_types.csv"))
        sc = self.spark.sparkContext
        self.cores = sc.defaultParallelism
        self.counters = tuple(sc.accumulator(0) for _ in range(3))
        self.waves = 0
        self.truth_total = 0
        self.loaded = 0
        self.last_plan = {}
        self._wave(timed=False)

    def step(self) -> None:
        self._wave(timed=True)

    def _wave(self, timed: bool) -> None:
        from sec_dl_spark.etl.ingest import (
            apply_text_updates,
            build_filings,
            pending_filings,
            write_filings,
        )
        from sec_dl_spark.etl.monitor import scrape_progress
        from sec_dl_spark.etl.scrape import scrape_pending
        from sec_dl_spark.sources.edgar_idx import parse_master_idx

        F, spark, col = self.F, self.spark, self.col
        wave = self.waves
        self.waves += 1
        op = f"w{wave}"
        idx_path, truth = gen_edgar.write_quarter(self.in_dir, self.seed, wave, self.seeds,
                                                  IDX_ROWS if timed else WARM_IDX_ROWS)
        landing = f"{truth['year']}q{truth['qtr']}"
        # the plans of this quarter and the last: a retry is at most one
        # wave late, since a planned failure fails only its first attempt
        plan = {**self.last_plan, **truth["plan"]}
        self.last_plan = truth["plan"]
        fetcher = functools.partial(counted_fetch, seed=self.seed, landing=landing,
                                    plan=plan, counters=self.counters)
        before = [c.value for c in self.counters]
        files_before = _tree_files(self.base) if col.trace else {}
        rec = {"op": op, "timed": timed, "truth": truth, "work": 0}
        t0 = time.perf_counter()
        try:
            with col.span("edgar.wave", op):
                with col.span("etl.ingest", op), col.group(op, "ingest"):
                    with col.span("sources", op):
                        records = parse_master_idx(spark, idx_path)
                    filings = build_filings(records, self.companies, self.filing_types)
                    write_filings(filings, self.base, mode="append")
                t1 = time.perf_counter()
                files_after_load = _tree_files(self.base) if col.trace else {}
                with col.span("etl.scrape", op), col.group(op, "scrape"):
                    meta = spark.read.parquet(f"{self.base}/filings_meta")
                    text = spark.read.parquet(f"{self.base}/filings_text")
                    where = meta.select("filing_id", "year", "qtr")
                    pending = pending_filings(meta, text).join(where, "filing_id")
                    touched = [(r.year, r.qtr) for r in pending.select("year", "qtr").distinct().collect()]
                    # one fetch task per core, as ``--scrape-partitions``
                    # sets it on the command line
                    fetched = scrape_pending(pending, fetcher=fetcher, partitions=self.cores
                                             ).join(where, "filing_id")
                    in_touched = F.lit(False)
                    for y, q in touched:
                        in_touched = in_touched | ((F.col("year") == y) & (F.col("qtr") == q))
                    merged = apply_text_updates(text.where(in_touched), fetched)
                    (merged.write.mode("overwrite")
                     .option("partitionOverwriteMode", "dynamic")
                     .partitionBy("year", "qtr")
                     .parquet(f"{self.base}/filings_text"))
                t2 = time.perf_counter()
                with col.span("etl.monitor", op), col.group(op, "monitor"):
                    done = spark.read.parquet(f"{self.base}/filings_text")
                    progress = scrape_progress(meta, done).collect()[0].asDict()
            t3 = time.perf_counter()
            rec.update(latency=t3 - t0, load_s=t1 - t0, scrape_s=t2 - t1, monitor_s=t3 - t2,
                       progress=progress)
        except Exception as exc:  # noqa: BLE001 — a failed wave counts as failed, the loop goes on
            rec.update(latency=time.perf_counter() - t0, error=repr(exc)[:300])
            files_after_load = files_before
        rec["fetch"] = [c.value - b for c, b in zip(self.counters, before)]
        rec["load_files"] = {k: v for k, v in files_after_load.items() if k not in files_before}
        if col.trace and "error" not in rec:
            # traced runs only, after the timed wave: rows the parser yields
            with col.group(op, "probe"):
                rec["idx_rows_parsed"] = records.count()
        rec["stats"] = col.op_stats(op)
        rec["stats"].pop("probe", None)
        if "error" not in rec:
            rec["kept"] = rec["progress"]["n_total"] - self.loaded
            self.loaded = rec["progress"]["n_total"]
        # truth: earlier first-attempt failures are retried now and succeed
        prev_fails = self.truth_fails if wave else []
        self.truth_fails = truth["fails"]
        self.truth_total += len(truth["kept"])
        rec["expect"] = {"n_total": self.truth_total, "n_pending": len(truth["fails"]),
                         "n_done": self.truth_total - len(truth["fails"])}
        rec["scraped"] = len(truth["kept"]) - len(truth["fails"]) + len(prev_fails)
        if timed and "error" not in rec:
            rec["work"] = rec["scraped"]
        self.ops.append(rec)

    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o["timed"]]

    def check(self) -> None:
        """Progress counts equal the generator's truth after every wave;
        every scraped text has no tags, entities, attachment content or
        20+ character token, and keeps its planted marker word."""
        for rec in self.ops:
            if "error" in rec:
                rec["ok"] = False
                continue
            got = {k: rec["progress"][k] for k in ("n_total", "n_done", "n_pending")}
            if got != rec["expect"]:
                rec["ok"], rec["error"] = False, f"progress {got} != truth {rec['expect']}"
            else:
                rec["ok"] = True
        # a wrong text fails the wave that loaded its quarter
        by_quarter = {f"/{o['truth']['year']}q{o['truth']['qtr']}-": o for o in self.ops}
        for path, problem in self._bad_texts():
            rec = next(o for q, o in by_quarter.items() if q in path)
            rec["ok"], rec["error"] = False, f"{problem} in {path}"

    def _bad_texts(self):
        """(path, problem) of every scraped text that still has markup, a
        token of 20+ characters or attachment content, or lost its marker
        word. Evaluated in Spark, so the texts never travel to this
        process."""
        F = self.F
        meta = self.spark.read.parquet(f"{self.base}/filings_meta").select("filing_id", "path")
        keep, att = gen_edgar.marker_cols(self.seed, F.col("path"))
        text = F.col("text")
        problem = (F.when(text.rlike("[<>]|&nbsp;|&#160;"), "markup left")
                   .when(text.rlike(r"\S{20,}"), "token of 20+ characters left")
                   .when(F.instr(text, att) > 0, "attachment text kept")
                   .when(~F.array_contains(F.split(text, " "), keep), "marker word lost"))
        rows = (self.spark.read.parquet(f"{self.base}/filings_text")
                .where(text.isNotNull()).join(meta, "filing_id")
                .select("path", problem.alias("problem")).where(F.col("problem").isNotNull())
                .collect())
        return [(r.path, r.problem) for r in rows]

    def layer_metrics(self, timed_s: float) -> dict[str, float]:
        m = super().layer_metrics(timed_s)
        ops = [o for o in self.timed_ops() if "error" not in o]
        parsed = sum(o["idx_rows_parsed"] for o in ops)
        m["sources.idx_rows_parsed"] = parsed / len(ops)
        m["sources.idx_kept_frac"] = sum(o["kept"] for o in ops) / parsed
        m["ingest.load_s"] = mean(o["load_s"] for o in ops)
        m["ingest.files_written"] = mean(len(o["load_files"]) for o in ops)
        m["ingest.mb_written"] = mean(sum(o["load_files"].values()) / 1e6 for o in ops)
        m["scrape.s"] = mean(o["scrape_s"] for o in ops)
        m["scrape.fetches"] = mean(o["fetch"][0] for o in ops)
        m["scrape.fetch_failures"] = mean(o["fetch"][1] for o in ops)
        m["scrape.retried"] = mean(o["fetch"][2] for o in ops)
        m["scrape.stage_run_s"] = mean(o["stats"].get("scrape", {}).get("run_s", 0.0) for o in ops)
        m["monitor.s"] = mean(o["monitor_s"] for o in ops)
        m["monitor.pending"] = mean(o["progress"]["n_pending"] for o in ops)
        return m


def _tree_files(root: str) -> dict[str, int]:
    """{path: bytes} of the data files under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out
