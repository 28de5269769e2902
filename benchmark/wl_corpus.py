"""corpus_build: the LLM-data user's job on a corpus with planted truth.

One operation is one corpus build: ``etl.corpus.build_corpus`` over the
generated ``documents.parquet`` into a fresh output directory, then two
``append_corpus`` deltas that re-crawl admitted documents and bring novel
ones. The run makes one cold operation (see ``max_steps``). Checked outside
the timed region: the build's and the appends' funnel counts equal the
generator's truth, every document the build keeps is an exact-dedup
survivor, and the output holds exactly the counted documents; near-dedup
recall and false drops are reported, not required.
"""

from __future__ import annotations

import os
import time

from benchmark import gen_corpus
from benchmark.workloads import Workload, mean, phase_total

BASE_DOCS = 2_000
DELTA_DOCS = 500
DELTAS = 2
# job-group phases of one operation: the base build, then each delta
PHASES = ["base"] + [f"append{k}" for k in range(1, DELTAS + 1)]


class CorpusBuild(Workload):
    name = "corpus_build"
    # one cold build per run, as the ``corpus`` command runs one build per
    # session; a warm build before it costs as much again (22 s on 4 cores,
    # whatever the corpus size), which the benchmark's time budget does not
    # hold
    max_steps = 1

    def setup(self) -> None:
        gen = gen_corpus.CorpusGen(self.seed)
        self.inputs = self._inputs(gen, BASE_DOCS, DELTA_DOCS)
        self.builds = 0

    def _inputs(self, gen, base_docs: int, delta_docs: int) -> dict:
        """The base corpus and its deltas under ``corpus-in``, and their
        truth."""
        root = os.path.join(self.run_dir, "corpus-in")
        base = os.path.join(root, "base")
        truth = gen_corpus.write_base(base, gen, base_docs)
        admitted = list(truth.pop("recrawlable"))
        deltas = []
        for k in range(1, DELTAS + 1):
            d = os.path.join(root, f"delta{k}")
            t = gen_corpus.write_delta(d, gen, k, delta_docs, admitted, id_base=k * 1_000_000)
            admitted += t.pop("novel")
            deltas.append((d, t))
        return {"base": base, "base_docs": base_docs, "truth": truth, "deltas": deltas}

    def step(self) -> None:
        self._build(self.inputs, timed=True)

    def _build(self, inputs: dict, timed: bool) -> None:
        from sec_dl_spark.etl.corpus import append_corpus, build_corpus

        col, spark = self.col, self.spark
        op = f"b{self.builds}"
        out = os.path.join(self.run_dir, f"corpus-out-{self.builds}")
        self.builds += 1
        n_docs = inputs["base_docs"] + sum(t["n_raw"] for _, t in inputs["deltas"])
        rec = {"op": op, "out": out, "inputs": inputs, "timed": timed,
               "work": n_docs if timed else 0}
        t0 = time.perf_counter()
        try:
            with col.span("corpus.op", op):
                with col.span("etl.corpus", op), col.group(op, "base"):
                    funnels = [build_corpus(spark, inputs["base"], out)]
                rec["phase_s"] = [time.perf_counter() - t0]
                for k, (d, _) in enumerate(inputs["deltas"], 1):
                    t1 = time.perf_counter()
                    with col.span("etl.corpus", op), col.group(op, f"append{k}"):
                        funnels.append(append_corpus(spark, d, out, batch=f"d{k}"))
                    rec["phase_s"].append(time.perf_counter() - t1)
            rec.update(latency=time.perf_counter() - t0, funnels=funnels)
        except Exception as exc:  # noqa: BLE001 — a failed build counts as failed, the loop goes on
            rec.update(latency=time.perf_counter() - t0, error=repr(exc)[:300])
        rec["stats"] = col.op_stats(op)
        if col.trace and "error" not in rec:
            rec["output_files"] = sum(f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)
        self.ops.append(rec)

    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o["timed"]]

    def check(self) -> None:
        """Funnel counts against the truth, the kept base documents against
        the exact-dedup survivors, the output against the counts."""
        for rec in self.ops:
            if "error" in rec:
                rec["ok"] = False
                continue
            truth = rec["inputs"]["truth"]
            survivors = set(truth["exact_survivors"])
            build, *appends = rec["funnels"]
            errs = [f"build {k} {build[k]} != {truth[k]}"
                    for k in ("n_raw", "n_quality", "n_exact_unique") if build[k] != truth[k]]
            for (_, t), got in zip(rec["inputs"]["deltas"], appends):
                errs += [f"{got['batch']} {k} {got.get(k)} != {t[k]}"
                         for k in ("n_raw", "n_prepped", "n_in_batch_unique", "n_novel")
                         if got.get(k) != t[k]]
            ids = [r.doc_id for r in self.spark.read.parquet(os.path.join(rec["out"], "documents"))
                   .select("doc_id").collect()]
            base = {i for i in ids if i < rec["inputs"]["base_docs"]}
            n_out = build["n_near_unique"] + sum(a.get("n_novel", 0) for a in appends)
            if len(ids) != len(set(ids)) or len(ids) != n_out:
                errs.append(f"{len(ids)} documents written, {n_out} counted")
            if base - survivors:
                errs.append(f"{len(base - survivors)} kept documents are not exact-dedup survivors")
            if len(base) != build["n_near_unique"]:
                errs.append(f"{len(base)} base documents kept, {build['n_near_unique']} counted")
            rec["kept"] = base
            rec["ok"] = not errs
            if errs:
                rec["error"] = "; ".join(errs)[:300]

    def layer_metrics(self, timed_s: float) -> dict[str, float]:
        m = super().layer_metrics(timed_s)
        ops = [o for o in self.timed_ops() if "error" not in o]
        build_s = sum(o["phase_s"][0] for o in ops)
        append_s = sum(sum(o["phase_s"][1:]) for o in ops)
        m["corpus.build_docs_per_s"] = BASE_DOCS * len(ops) / build_s
        m["corpus.append_docs_per_s"] = DELTAS * DELTA_DOCS * len(ops) / append_s
        m["corpus.build_jobs"] = mean(o["stats"].get("base", {}).get("jobs", 0) for o in ops)
        m["corpus.append_jobs"] = mean(
            sum(o["stats"].get(p, {}).get("jobs", 0) for p in PHASES[1:]) for o in ops)
        m["corpus.shuffle_write_mb"] = mean(
            phase_total(o["stats"], "shuffle_write_mb") for o in ops)
        m["corpus.output_files"] = mean(o["output_files"] for o in ops)
        truth = self.inputs["truth"]
        pairs = truth["near_pairs"]
        planted_drops = {b for _, b in pairs}
        survivors = set(truth["exact_survivors"])
        recall, false_drops = [], []
        for o in ops:
            kept = o["kept"]
            recall.append(sum(a in kept and b not in kept for a, b in pairs) / len(pairs))
            false_drops.append(len(survivors - kept - planted_drops))
        m["dedup.exact_recall"] = mean(
            (o["funnels"][0]["n_quality"] - o["funnels"][0]["n_exact_unique"])
            / truth["exact_copies"] for o in ops)
        m["dedup.near_recall"] = mean(recall)
        m["dedup.near_false_drops"] = mean(false_drops)
        return m
