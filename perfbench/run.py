#!/usr/bin/env python3
"""meeseeker_spark benchmark entry point.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root.  One run executes one workload (see
perfbench/README.md), checks every output against golden answers and
prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` a span tracer wraps
the program's public entry points and the metrics are the per-layer ones.
``--workload all`` runs every workload untraced and then traced, each in
its own process, prints every metric with its unit, the tracing overhead
and the correctness verdict, and ends with the combined JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the package is imported as ``perfbench``; drop the script dir so its
# module names cannot shadow anything
sys.path[:1] = [ROOT]

# name -> (unit, which direction is better); BENCHMARK.json lists the same
END_TO_END = {
    "items_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p75_ms": ("ms", "lower"),
    "setup_s": ("s", "lower"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "bench.gen_s": ("s", "lower"),
    "streaming.triggers": ("count", "lower"),
    "streaming.rows_per_trigger": ("count", "higher"),
    "streaming.trigger_p50_ms": ("ms", "lower"),
    "streaming.planning_ms": ("ms", "lower"),
    "streaming.walcommit_ms": ("ms", "lower"),
    "streaming.addbatch_ms": ("ms", "lower"),
    "manifest.append_calls": ("count", "lower"),
    "manifest.append_ms": ("ms", "lower"),
    "manifest.append_p50_ms": ("ms", "lower"),
    "manifest.files": ("count", "lower"),
    "manifest.json_bytes": ("bytes", "lower"),
    "manifest.df_ms": ("ms", "lower"),
    "flatten.ops_per_s": ("1/s", "higher"),
    "channels.rows_per_op": ("ratio", "lower"),
    "channels.derive_ms": ("ms", "lower"),
    "keys.glob_us": ("us", "lower"),
    "keys.residual_frac": ("ratio", "lower"),
    "query.get_p50_ms": ("ms", "lower"),
    "query.scan_type_p50_ms": ("ms", "lower"),
    "query.scan_block_p50_ms": ("ms", "lower"),
    "query.scan_trx_p50_ms": ("ms", "lower"),
    "query.find_block_p50_ms": ("ms", "lower"),
    "query.find_trx_p50_ms": ("ms", "lower"),
    "query.has_block_p50_ms": ("ms", "lower"),
    "query.plan_p50_ms": ("ms", "lower"),
    "query.exec_p50_ms": ("ms", "lower"),
    "screen.docs_per_s": ("1/s", "higher"),
    "screen.trigger_ms": ("ms", "lower"),
    "screen.admit_ratio": ("ratio", "higher"),
    "screen.exact_hits": ("count", "higher"),
    "trace.items_per_s": ("1/s", "higher"),
    "trace.spans": ("count", "lower"),
}


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    size the Spark driver JVM for a shared machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options '-Xms2g -Djava.io.tmpdir={tmp}'",
        "pyspark-shell",
    ])


def install_tracing(tracer) -> None:
    """Wrap the public entry points of every layer in spans."""
    from meeseeker_spark import keys, manifest, query, session
    from meeseeker_spark.streaming import pipeline, screen

    tracer.patch(session, "get_spark", "session.get_spark")
    tracer.patch(pipeline, "start_ingest", "streaming.start_ingest")
    tracer.patch(pipeline, "flatten_blocks", "flatten.flatten_blocks")
    tracer.patch(pipeline, "flatten_virtual_ops", "flatten.flatten_virtual_ops")
    tracer.patch(manifest.ManifestStore, "append", "manifest.append")
    tracer.patch(manifest.ManifestStore, "df", "manifest.df")
    tracer.patch(keys, "glob_to_filter", "keys.glob_to_filter")
    tracer.patch(query, "glob_to_filter", "keys.glob_to_filter")
    for m in ("get", "scan", "find_block", "find_trx", "has_block"):
        tracer.patch(query.OpsStore, m, f"query.OpsStore.{m}")
    tracer.patch(screen, "start_screen", "screen.start_screen")


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import shutil

    from perfbench import stats, workloads

    run = workloads.Run(ROOT, seed, seconds, trace)
    _prepare_env(run.work)
    host = stats.HostLoad()
    if trace:
        install_tracing(run.tracer)
    try:
        with stats.PeakRss() as rss:
            workloads.WORKLOADS[workload](run)
    finally:
        run.stop()
        run.phase("teardown")
        if run.tracer is not None:
            run.tracer.restore()
        shutil.rmtree(run.scratch, ignore_errors=True)

    info = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace), "gen_s": round(run.gen_s, 3),
            "windows": [{"items": n, "busy_s": round(b, 3),
                         "steal_pct": round(st, 1)}
                        for n, b, st in run.windows],
            "commits_s": run.commits,
            "samples": len(run.latencies_ms),
            "phases_s": run.phases_s,
            "host": host.report(),
            "problems": run.problems}
    print(json.dumps({"info": info}), flush=True)

    if trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(run.layer)
        layer["session.start_s"] = run.session_start_s
        layer["bench.gen_s"] = run.gen_s
        layer["process.peak_rss_mb"] = rss.peak_mb
        layer["trace.items_per_s"] = run.items_per_s
        layer["trace.spans"] = float(len(run.tracer.spans))
        trace_dir = os.path.join(run.work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        run.tracer.dump(os.path.join(trace_dir, f"{workload}-s{seed}.json"))
        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k][0]}
                   for k in PER_LAYER}
    else:
        values = {
            "setup_s": run.setup_s,
            "items_per_s": run.items_per_s,
            "latency_p50_ms": stats.percentile(run.latencies_ms, 0.5),
            "latency_p75_ms": stats.percentile(run.latencies_ms, 0.75),
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k][0]}
                   for k in END_TO_END}
    return {"correct": run.failed == 0 and run.attempted > 0,
            "attempted": run.attempted, "failed": run.failed,
            "metrics": metrics}


def run_all(seed: int, seconds: int) -> dict:
    """Every workload untraced then traced, each in a child process."""
    from perfbench import workloads
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        res = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                raise SystemExit(f"{name} --trace {trace} failed "
                                 f"(exit {proc.returncode})")
            res[trace] = json.loads(lines[-1])
        for r in res.values():
            combined["correct"] &= r["correct"]
            combined["attempted"] += r["attempted"]
            combined["failed"] += r["failed"]
        untraced = res[0]["metrics"]["items_per_s"]["value"]
        traced = res[1]["metrics"]["trace.items_per_s"]["value"]
        overhead = {"value": 100.0 * (untraced - traced) / untraced,
                    "unit": "%"}
        print(f"== {name}: correct={res[0]['correct'] and res[1]['correct']}"
              f" attempted={res[0]['attempted'] + res[1]['attempted']}"
              f" failed={res[0]['failed'] + res[1]['failed']}")
        for trace in (0, 1):
            for k, m in res[trace]["metrics"].items():
                print(f"  {k:30s} {m['value']:14.4f} {m['unit']}")
                combined["metrics"][f"{name}.{k}"] = m
        print(f"  {'trace.overhead_pct':30s} {overhead['value']:14.4f} %")
        combined["metrics"][f"{name}.trace.overhead_pct"] = overhead
    return combined


def main(argv: list[str] | None = None) -> int:
    from perfbench import workloads
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "meeseeker_spark")):
        print(f"meeseeker_spark not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        result = run_all(args.seed, args.seconds)
    else:
        result = run_one(args.workload, args.seed, args.seconds,
                         bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
