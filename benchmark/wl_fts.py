"""fts_serve: near-real-time full-text search over the incremental index.

The index is the one ``streaming.index.incremental_index_sink`` maintains
from a stream of document files, opened with ``read_incremental_index``.
One operation is one search: a ``search_query`` tsquery (AND, OR, NOT,
``word:*`` prefix, ``<->`` phrase) or a ``search_bm25`` top-10 ranked
with the sidecar statistics. Every round of ten searches (``ROUND_KINDS``)
ends with a new batch of documents landing, the sink running
``availableNow`` and the index being reopened; that landing-to-searchable
time is the freshness. The index grows during the run.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from benchmark.gen_fts import Corpus
from benchmark.workloads import Workload, mean, phase_total

INITIAL_BATCHES = 1
BATCH_DOCS = 300
# the kinds of one round's searches (shuffled per round)
ROUND_KINDS = ["and", "and", "or", "or", "not", "prefix", "phrase", "phrase", "bm25", "bm25"]


class FtsServe(Workload):
    name = "fts_serve"

    def setup(self) -> None:
        self.docs_dir = os.path.join(self.run_dir, "docs")
        self.index = os.path.join(self.run_dir, "index")
        self.ckpt = os.path.join(self.run_dir, "index-ckpt")
        os.makedirs(self.docs_dir)
        self.corpus = Corpus(self.seed)
        # the draws of term ranks and phrase positions are the same for
        # every seed, so every run searches the same mix of common and rare
        # terms; the seed picks the words (the vocabulary's rank order) and
        # the documents
        self.rng = random.Random("searches")
        self.batches = 0
        self.text_bytes = 0
        for _ in range(INITIAL_BATCHES):
            self._land()
        self._append(timed=False)
        # warm searches, one per kind, on parallel threads: they only fill
        # the code caches (the timed loop is one client)
        warm = self.corpus.searches(self.rng, sorted(set(ROUND_KINDS)))
        with ThreadPoolExecutor(len(warm)) as pool:
            for fut in [pool.submit(self._search, kind, arg, False, f"warm-{kind}")
                        for kind, arg in warm]:
                fut.result()

    def step(self) -> None:
        for kind, arg in self.corpus.searches(self.rng, ROUND_KINDS):
            self._search(kind, arg, timed=True)
        self._land()
        self._append(timed=True)

    def _land(self) -> None:
        path = self.corpus.write_batch(self.docs_dir, self.batches, BATCH_DOCS)
        self.batches += 1
        self.text_bytes += os.path.getsize(path)

    def _append(self, timed: bool) -> None:
        """Sink run over the landed files, then reopen: the freshness."""
        from sec_dl_spark.streaming.index import incremental_index_sink, read_incremental_index

        col, spark = self.col, self.spark
        op = f"a{self.batches}"
        rec = {"op": op, "kind": "append", "timed": timed, "work": 0}
        t0 = time.perf_counter()
        try:
            with col.span("index.append", op):
                with col.span("streaming.index", op), col.group(op, "sink"):
                    stream = (spark.readStream.schema("doc_id long, text string")
                              .option("maxFilesPerTrigger", 1).parquet(self.docs_dir))
                    q = incremental_index_sink(stream, self.index, self.ckpt)
                    q.awaitTermination()
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                t1 = time.perf_counter()
                with col.span("streaming.index", op), col.group(op, "open"):
                    self.postings, self.stats = read_incremental_index(spark, self.index)
            t2 = time.perf_counter()
            rec.update(latency=t2 - t0, sink_s=t1 - t0, open_s=t2 - t1, ok=True)
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            rec.update(latency=time.perf_counter() - t0, ok=False, error=repr(exc)[:300])
        self.visible = [d for d in self.corpus.docs]
        rec["stats"] = col.op_stats(op)
        self.ops.append(rec)

    def _search(self, kind: str, arg, timed: bool, op: str = "") -> None:
        from sec_dl_spark.operators.fts import search_bm25, search_query

        col = self.col
        op = op or f"s{len(self.ops)}"
        rec = {"op": op, "kind": kind, "arg": arg, "timed": timed, "work": 1 if timed else 0,
               "visible": len(self.visible)}
        t0 = time.perf_counter()
        try:
            with col.span("fts.search", op):
                with col.span("operators.fts", op), col.group(op, "build"):
                    if kind == "bm25":
                        df = search_bm25(self.postings, arg, k=10, stats=self.stats)
                    else:
                        df = search_query(self.postings, arg)
                t1 = time.perf_counter()
                with col.span("exec", op), col.group(op, "exec"):
                    rows = df.collect()
            t2 = time.perf_counter()
            rec.update(latency=t2 - t0, build_s=t1 - t0, collect_s=t2 - t1, rows=rows)
            rec["catalyst"] = col.catalyst_ms(df)
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            rec.update(latency=time.perf_counter() - t0, build_s=0.0, error=repr(exc)[:300])
        rec["stats"] = col.op_stats(op)
        self.ops.append(rec)

    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o["kind"] != "append" and o["timed"]]

    def check(self) -> None:
        """Each search equals the brute-force answer over the documents
        visible when it ran (BM25: same doc ids in order, scores within
        1e-6 of the 6-decimal rounding)."""
        order = sorted(self.corpus.docs)
        for rec in self.ops:
            if rec["kind"] == "append":
                continue
            if "error" in rec:
                rec["ok"] = False
                continue
            visible = order[: rec["visible"]]
            if rec["kind"] == "bm25":
                want = self.corpus.bm25(rec["arg"], visible)
                got = [(r.doc_id, r.score) for r in sorted(rec["rows"], key=lambda r: r["rank"])]
                ok = [d for d, _ in got] == [d for d, _ in want] and all(
                    abs(a - b) <= 1e-6 for (_, a), (_, b) in zip(got, want))
            else:
                got = [r.doc_id for r in rec["rows"]]
                ok = len(got) == len(set(got)) and set(got) == self.corpus.eval_query(rec["arg"], visible)
            rec["ok"] = ok
            if not ok:
                rec["error"] = f"{rec['kind']} {rec['arg']!r}: result differs from brute force"

    def layer_metrics(self, timed_s: float) -> dict[str, float]:
        m = super().layer_metrics(timed_s)
        s = [o for o in self.timed_ops() if "error" not in o]
        a = [o for o in self.ops if o["kind"] == "append" and o["timed"] and o["ok"]]
        m["fts.search_build_s"] = mean(o["build_s"] for o in s)
        m["fts.search_collect_s"] = mean(o["collect_s"] for o in s)
        m["fts.search_tasks"] = mean(phase_total(o["stats"], "tasks") for o in s)
        m["fts.search_input_mb"] = mean(phase_total(o["stats"], "input_mb") for o in s)
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = mean(o["catalyst"].get(phase, 0.0) for o in s)
        m["index.append_s"] = mean(o["sink_s"] for o in a)
        m["index.append_jobs"] = mean(phase_total(o["stats"], "jobs") for o in a)
        m["index.open_s"] = mean(o["open_s"] for o in a)
        m["index.freshness_p50_s"] = statistics.median(o["latency"] for o in a) if a else 0.0
        files, size = 0, 0
        for d, _, names in os.walk(self.index):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
        m["index.files"] = float(files)
        m["index.bytes_per_text_byte"] = size / self.text_bytes
        return m
