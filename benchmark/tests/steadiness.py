"""Steadiness check: run each workload with several seeds, print each
end-to-end metric's spread against its bound in BENCHMARK.json, and the
traced run's overhead against the untraced runs.

    python3 benchmark/tests/steadiness.py [--runs 10] [--workload NAME ...]

Spread is the distance between the first and third quartiles of the
runs' values (``statistics.quantiles(values, n=4)``) as a share of their
median. A metric passes when its spread is within its bound. Exits 1 if
any run failed or any metric's spread is over its bound. Each run's stderr is kept in
``.bench_out/run-<workload>-seed<n>-trace<0|1>.log``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t0
    logs = os.path.join(ROOT, ".bench_out")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, f"run-{workload}-seed{seed}-trace{trace}.log"), "w") as fh:
        fh.write(proc.stderr)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    res = json.loads(last)
    res["rc"] = proc.returncode
    res["wall_s"] = wall
    return res


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bad = False
    for w in workloads:
        results = []
        for i in range(args.runs):
            r = run(spec, w, args.first_seed + i, 0)
            results.append(r)
            print(f"{w} seed={args.first_seed + i} rc={r['rc']} wall={r['wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r.get("metrics", {}).items()),
                  flush=True)
        if any(r["rc"] != 0 or not r.get("correct") for r in results):
            print(f"{w}: a run failed", flush=True)
            bad = True
            continue
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            s = spread(vals)
            ok = s <= m["bound"]
            bad |= not ok
            print(f"{w} {m['name']}: median={statistics.median(vals):.4g} {m['unit']} "
                  f"spread={s:.3f} bound={m['bound']} {'ok' if ok else 'OVER'}", flush=True)
        traced = run(spec, w, args.first_seed, 1)
        p50 = statistics.median(r["metrics"]["op_p50_s"]["value"] for r in results)
        tm = traced.get("metrics", {})
        if traced["rc"] != 0 or "trace.op_p50_s" not in tm:
            print(f"{w}: traced run failed", flush=True)
            bad = True
            continue
        print(f"{w} trace: op_p50 {tm['trace.op_p50_s']['value']:.4g} s vs untraced median "
              f"{p50:.4g} s ({tm['trace.op_p50_s']['value'] / p50 - 1:+.1%}); collector "
              f"bookkeeping {tm['trace.overhead_frac']['value']:.1%} of the timed region",
              flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
