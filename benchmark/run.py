"""Benchmark launcher: one workload, one client, one fresh Spark session.

    python3 benchmark/run.py --workload catalog_mix --seed 1 --seconds 10 --trace 0

Runs the workload's set-up (session start, seeded inputs, untimed warm
pass), then its closed loop for ``--seconds``, then checks every output
outside the timed region. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); a
traced run also writes its spans to ``.bench_out/``. Exits 1 if any
output was wrong, 2 if the repository's package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_mix", "edgar_ingest", "fts_serve", "corpus_build")


def _hygiene(run_dir: str) -> None:
    """Environment for this run only: every core, local and temp dirs
    inside the run directory, the repo root on the Python workers' path,
    no console progress bar."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # every JVM (launcher and driver): temp files in the run directory and
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


def _settle(spark, quiet_s: float = 0.5, cap_s: float = 10.0) -> None:
    """Wait until the driver JVM's JIT compiler has been idle for
    ``quiet_s`` (at most ``cap_s``), so compilations the warm step queued
    do not compete with the timed loop."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    end = time.perf_counter() + cap_s
    last = bean.getTotalCompilationTime()
    while time.perf_counter() < end:
        time.sleep(quiet_s)
        now = bean.getTotalCompilationTime()
        if now - last < quiet_s * 1000 * 0.05:
            return
        last = now


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sec_dl_spark", "__init__.py")):
        print(f"benchmark: no sec_dl_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _hygiene(run_dir)
    # the repo root, not this directory, heads the path: benchmark modules
    # are imported as the ``benchmark`` package, as the workers import them
    sys.path[0] = ROOT

    from benchmark.collect import Collector
    from benchmark.workloads import make

    t0 = time.perf_counter()
    spark = None
    try:
        from sec_dl_spark.session import get_spark

        spark = get_spark(f"bench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0
        col = Collector(spark, bool(args.trace))
        wl = make(args.workload, spark, col, run_dir, args.seed)
        wl.setup()
        t_settle = time.perf_counter()
        _settle(spark)
        settle_s = time.perf_counter() - t_settle
        setup_s = time.perf_counter() - t0
        col.skip()

        start = time.perf_counter()
        steps = 0
        while steps < wl.min_steps or (time.perf_counter() - start < args.seconds
                                        and steps != wl.max_steps):
            wl.step()
            steps += 1
        timed_s = time.perf_counter() - start

        t_check = time.perf_counter()
        wl.check()
        print(f"phases: session {session_start_s:.1f}s, set-up {setup_s:.1f}s "
              f"(JIT settle {settle_s:.1f}s), "
              f"timed {timed_s:.1f}s ({steps} steps), check "
              f"{time.perf_counter() - t_check:.1f}s", file=sys.stderr)
        attempted = len(wl.ops)
        failed = sum(1 for o in wl.ops if not o["ok"])
        if args.trace:
            metrics = wl.layer_metrics(timed_s)
            metrics["session.start_s"] = session_start_s
            metrics["session.driver_rss_mb"] = col.driver_rss_mb()
            metrics["trace.overhead_frac"] = col.overhead_s / timed_s
            _write_trace(col, args, metrics)
        else:
            metrics = wl.e2e_metrics(timed_s)
            metrics["setup_s"] = setup_s
        for o in wl.ops:
            print(f"op {o['op']} {o['latency']:.4f}s {'ok' if o['ok'] else 'FAILED'} "
                  f"{o.get('error', '')}", file=sys.stderr)
        units = wl.units()
        for name in sorted(metrics):
            print(f"{name:32s} {metrics[name]:.6g} {units[name]}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _write_trace(col, args, metrics) -> None:
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": col.spans,
                   "self_time_s": col.self_times(), "metrics": metrics}, fh)
    print(f"spans: {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
