#!/usr/bin/env python
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "extras": {...}}

The reference's own envelope (BASELINE.md) is operational — 1 block/3 s
sustained ingest with a bounded store — so besides query wall-times we also
report ingest_blocks_per_s from a fixture-driven flatten→sink run.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# representative spread: scan+agg throughput, window, join, flatten,
# dedup/minhash, knn, text rollup.  Embedding dedup benches the SCALE path
# (LSH bucket join, ~linear in bucket width) — the exact O(n²) twin
# `embedding_dups` stays a test-only recall oracle, per VERDICT r2: a
# quadratic plan in the headline measures noise, not the engine.
HEADLINE = [
    "pricing_summary",
    "channel_volume",
    "flatten_ops",
    "d3_ref_join",
    "trx_index",
    "top_events_per_user",
    "d1_trx_reconcile",
    "dedup_fingerprint",
    "near_dup_pairs",
    "knn_topk",
    "embedding_dups_lsh",
    "token_totals",
    "scan_by_type",
]


def _consume(df) -> None:
    """Force full execution without driver-side materialization costs.
    (r15 review: the old ``save() or df.count()`` fallthrough ran every
    consumed query TWICE — noop save returns None — doubling the work
    behind each ab_infer_gen timing.)"""
    df.write.mode("overwrite").format("noop").save()


# --- sf1 core-scaling lane (r16, VERDICT r15 item 1) -------------------
#
# The sf0.1 headline is now job-latency bound (every r15 low/high-core
# ratio ≈ 1), so parallelism claims need a scale point where compute
# dominates.  This lane times the heaviest catalog entries at the
# DERIVED sf1 (tools/make_scaled_sf.py — bench-only input, never the
# correctness fixture) at 8 and 32 cores and reports the speedup ratio
# per entry.  STRICTLY opt-in via SPARK_GRAFT_BENCH_SF1_LANE: unset (the
# driver's path) leaves bench.py's behavior and output untouched.
#   SPARK_GRAFT_BENCH_SF1_LANE=1       orchestrate both core counts,
#                                      print ONE JSON line with ratios
#   SPARK_GRAFT_BENCH_SF1_LANE=worker  internal: one core count
#                                      (from $SPARK_GRAFT_CPUS), one
#                                      JSON line of per-entry seconds
SF1_LANE_ENTRIES = [
    "near_dup_pairs",
    "embedding_dups_lsh",
    "incremental_embedding_dups",
    "winnow_fps",
    "benchmark_coverage",
    "dsir_select",
    "media_phash_dups_real",
    "ngram_repetition",
]


def _sf1_dir() -> str:
    d = os.environ.get("SPARK_GRAFT_SF1_DIR",
                       str(REPO / "bench_data" / "sf1"))
    if not Path(d).is_dir():
        raise SystemExit(
            f"sf1 lane: {d} missing — run tools/make_scaled_sf.py first "
            "(deterministic derivation from the driver's sf0.1)")
    return d


def _sf1_worker() -> None:
    """One core count's pass over the lane entries at sf1: per entry one
    discarded warmup then best-of-reps noop-sink runs (the headline
    bench's methodology at the heavier SF)."""
    from meeseeker_spark import catalog
    from meeseeker_spark.session import get_spark
    from meeseeker_spark.tables import warm_tables

    sf_dir = _sf1_dir()
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    spark = get_spark(app_name="meeseeker-sf1-lane")
    warm_tables(spark, sf_dir)
    results: dict[str, float] = {}
    for name in SF1_LANE_ENTRIES:
        fn = catalog.ENTRIES[name].spark
        spark.sparkContext.setJobDescription(f"sf1-lane:{name}")
        _consume(fn(spark, sf_dir))                     # warmup
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            _consume(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        results[name] = round(best, 3)
    print(json.dumps({
        "metric": "sf1_lane_pass",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "sf": "1",
        "extras": {"cpus": os.environ.get("SPARK_GRAFT_CPUS", "32")},
    }))
    spark.stop()


def _sf1_orchestrate() -> None:
    """Run the worker at 8 then 32 cores (fresh JVM each — the same
    cold-session methodology as the driver's own low-core probe) and
    print one JSON line with per-entry ratios.  The 8-core pass runs
    FIRST so the 32-core numbers cannot ride a warmer page cache than
    the 8-core ones (any cache bias thus UNDERSTATES the ratio)."""
    import subprocess

    _sf1_dir()                       # fail fast before any JVM spins up
    t_start = time.time()
    with open("/proc/stat") as f:
        stat0 = [int(x) for x in f.readline().split()[1:9]]
    passes: dict[str, dict[str, float]] = {}
    for cpus in ("8", "32"):
        env = dict(os.environ,
                   SPARK_GRAFT_BENCH_SF1_LANE="worker",
                   SPARK_GRAFT_CPUS=cpus,
                   SPARK_GRAFT_SF1_DIR=_sf1_dir())
        out = subprocess.run(
            [sys.executable, str(REPO / "bench.py")],
            env=env, capture_output=True, text=True)
        if out.returncode != 0:
            # surface the worker's Spark stack trace (r16 review: bare
            # check=True discarded the captured stderr, leaving a dead
            # lane entry undiagnosable from the run output)
            sys.stderr.write(out.stderr[-4000:])
            raise SystemExit(
                f"sf1 lane worker (cpus={cpus}) failed rc={out.returncode}"
                " — worker stderr tail above")
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        passes[cpus] = json.loads(line)["queries"]
    with open("/proc/stat") as f:
        stat1 = [int(x) for x in f.readline().split()[1:9]]
    d = [b - a for a, b in zip(stat0, stat1)]
    busy = d[0] + d[1] + d[2] + d[7]
    ratios = {n: round(passes["8"][n] / passes["32"][n], 2)
              for n in SF1_LANE_ENTRIES if passes["32"][n] > 0}
    import math
    geomean = round(math.exp(
        sum(math.log(r) for r in ratios.values())
        / max(1, len(ratios))), 2)
    print(json.dumps({
        "metric": "sf1_core_scaling_8_to_32",
        "value": geomean,
        "unit": "x",
        "queries": {n: passes["32"][n] for n in SF1_LANE_ENTRIES},
        "sf": "1",
        "extras": {
            "sec_at_8_cores": passes["8"],
            "sec_at_32_cores": passes["32"],
            "speedup_8_to_32": ratios,
            "wall_s": round(time.time() - t_start, 1),
            "steal_pct_of_busy": (round(100 * d[7] / busy, 1)
                                  if busy > 0 else None),
        },
    }))


def main() -> None:
    from meeseeker_spark import catalog
    from meeseeker_spark.session import get_spark

    spark = get_spark(app_name="meeseeker-bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Host-load snapshots make the bench SELF-diagnosing (VERDICT r12
    # item 2): every band-break adjudication so far started with "what
    # was the box doing?" answered from ROUND_NOTES archaeology — r12's
    # 9.92 outlier had every query inflated 5-29% uniformly under an
    # external ~3.5-core load.  The protocol is now data in the
    # artifact: on a band break, read load_avg_* FIRST; loads well
    # above ~1.5 (beyond this process) explain uniform inflation before
    # any plan is suspected.
    def _load_avg() -> list[float]:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]

    # Hypervisor steal (r15): load average only sees guest-visible
    # processes — a shared host can take CPU the guest asked for
    # (steal) with load reading 0.0x, inflating every query UNIFORMLY.
    # Measured on this box: 12% of busy time stolen during a 32-core
    # spin while loadavg read 0.07 — the residual plateau wander the
    # r13-r15 "clean"-adjudicated readings (9.7 vs 10.2 vs 12.9 on
    # byte-identical trees) could never pin on load.  Sampled across
    # the measured region; steal/(user+nice+system+steal) is the share
    # of CPU we wanted but did not get.
    def _cpu_stat() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]

    # CPU ticks burned by THIS process tree (python + the JVM it
    # launched + executors' helpers): utime+stime of self and every
    # live descendant, plus each member's reaped-children cutime+cstime
    # (a child that exits mid-region moves its ticks into the parent's
    # cutime, so the two-snapshot delta stays exact).  Total-box busy
    # minus this is EXTERNAL work — the only sound end-of-run load
    # signal, because a plain loadavg probe right after warm passes
    # mostly reads the bench's own just-finished saturation (r15
    # review: that mislabeled every settled loaded-start run
    # "converged_under_load").
    def _tree_cpu_ticks() -> int:
        procs: dict[int, tuple[int, int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            # post-comm 0-based: state=0 ppid=1 ... utime=11 stime=12
            # cutime=13 cstime=14
            procs[int(d)] = (int(parts[1]),
                             int(parts[11]) + int(parts[12])
                             + int(parts[13]) + int(parts[14]))
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in procs.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return sum(t for pid, (_pp, t) in procs.items() if pid in tree)

    # Quiet-box protocol (VERDICT r13 item 4): the band adjudication is
    # now IN the artifact, not a ROUND_NOTES ritual.  At warmup this
    # process has burned ~no CPU yet, so the 1-min load is external
    # work; above ~1.5 the box is demonstrably busy (r12/r13 A/B: an
    # external ~3.5-core load inflates every query 5-29% uniformly) —
    # sleep once and re-probe to let a transient settle, then classify
    # the run "clean" or "loaded" so BENCH_rN is self-adjudicating.
    LOADED_THRESHOLD = 1.5
    load_at_warmup = _load_avg()
    load_reprobe = None
    if load_at_warmup[0] > LOADED_THRESHOLD:
        time.sleep(60)
        load_reprobe = _load_avg()
    effective_load = load_reprobe or load_at_warmup
    band_adjudication = ("clean" if effective_load[0] <= LOADED_THRESHOLD
                         else "loaded")

    # warm the JVM/codegen path and every input's file listing + parquet
    # footer (count() is metadata-served) so timings measure steady-state
    # query execution, not first-touch filesystem cache effects
    from meeseeker_spark.tables import warm_tables
    warm_tables(spark, SF_DIR)

    # One discarded warmup pass (codegen/JIT first-touch: ~2x the warm
    # total — reporting it as "variance" would be noise), then N warm
    # passes over the headline list.  Per-query numbers are best-of-N
    # warm passes; the per-PASS totals land in extras as within-session
    # variance evidence — r6 pinned cross-session box drift at ±10-20%
    # yet r7 moved +25% on an untouched tree, costing a judge rerun to
    # adjudicate; with the warm pass totals in the file every future
    # headline move self-adjudicates (VERDICT r7 item 3).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))

    def _run_pass() -> dict[str, float]:
        times: dict[str, float] = {}
        for name in HEADLINE:
            fn = catalog.ENTRIES[name].spark
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            times[name] = time.perf_counter() - t0
        return times

    stat_at_warmup = _cpu_stat()
    tree_at_warmup = _tree_cpu_ticks()
    region_t0 = time.perf_counter()
    warmup_total = round(sum(_run_pass().values()), 3)
    pass_times = [_run_pass() for _ in range(reps)]
    pass_totals = [round(sum(p.values()), 3) for p in pass_times]

    # Converge instead of adjudicating after the fact (VERDICT r14
    # item 1): BENCH_r13 and r14 both recorded loaded-box numbers that
    # the band machinery could only explain, not fix.  When the warmup
    # probe classified the box "loaded" OR the warm passes spread past
    # ~10%, keep running warm passes (cap below) until the two BEST
    # pass totals agree within ~8% — the box draining shows up as new
    # minima converging; a genuinely busy box never settles and the
    # trace proves it.  The headline numbers are best-pass-derived
    # either way (per-query min over all warm passes).
    # default cap = reps + headroom for the loop, never max(reps, k):
    # a run launched with REPS >= k would otherwise get ZERO
    # convergence passes and be labeled never_settled without the loop
    # ever executing (r15 review); an explicit env cap is respected.
    MAX_PASSES = max(reps, int(os.environ.get(
        "SPARK_GRAFT_BENCH_MAX_PASSES", str(max(6, reps + 4)))))
    CONVERGE_GAP_PCT = 8.0
    TRIGGER_SPREAD_PCT = 10.0

    def _best_two_gap() -> float | None:
        s = sorted(pass_totals)[:2]
        return (round((s[1] - s[0]) / s[0] * 100, 1)
                if len(s) == 2 and s[0] > 0 else None)

    def _spread() -> float | None:
        return (round((max(pass_totals) - min(pass_totals))
                      / min(pass_totals) * 100, 1)
                if pass_totals and min(pass_totals) > 0 else None)

    # "settled" needs BOTH: the two best totals agree within the gap
    # AND the newest pass did not just set a meaningfully lower minimum
    # — a draining box produces monotone-falling minima whose two best
    # can already agree within 8% while still sliding (the r13/r14
    # post-suite signature: 19.0 → 15.1 → 13.5 → ...), so a fresh
    # minimum means "keep measuring", not "done".
    STILL_DROPPING_PCT = 2.0

    def _still_dropping() -> bool:
        if len(pass_totals) < 2:
            return True
        prev_min = min(pass_totals[:-1])
        return (prev_min > 0
                and (prev_min - pass_totals[-1]) / prev_min * 100
                > STILL_DROPPING_PCT)

    # Loop shape (r15 review): a single-pass run (REPS=1, the preflight
    # smoke) first earns ONE confirming pass, then the loaded/spread
    # triggers are re-evaluated exactly like a multi-pass run — a clean
    # single-pass run costs one extra pass and KEEPS its "clean" label
    # instead of being relabeled by a loop it never needed.
    def _triggered() -> bool:
        return (band_adjudication == "loaded"
                or (_spread() or 0) > TRIGGER_SPREAD_PCT)

    def _settled() -> bool:
        g = _best_two_gap()
        return (g is not None and g <= CONVERGE_GAP_PCT
                and not _still_dropping())

    while len(pass_times) < MAX_PASSES:
        if len(pass_totals) >= 2 and (not _triggered() or _settled()):
            break
        pass_times.append(_run_pass())
        pass_totals.append(round(sum(pass_times[-1].values()), 3))
    gap = _best_two_gap()
    needs_convergence = _triggered()
    bench_converged = not needs_convergence or _settled()
    # steal share over the whole measured region (warmup + every warm
    # pass).  host_throttled means: the numbers are internally stable
    # but the HOST ran us slow — prefer an un-throttled artifact for
    # band comparisons; convergence cannot measure this away.
    stat_at_end = _cpu_stat()
    tree_at_end = _tree_cpu_ticks()
    region_wall_s = time.perf_counter() - region_t0
    _d = [b - a for a, b in zip(stat_at_warmup, stat_at_end)]
    _busy = _d[0] + _d[1] + _d[2] + _d[7]     # user+nice+system+steal
    steal_pct_of_busy = (round(100 * _d[7] / _busy, 1) if _busy > 0
                         else None)
    host_throttled = (steal_pct_of_busy is not None
                      and steal_pct_of_busy > 3.0)

    # Label semantics (r15 review): "converged" alone would also cover
    # a box under STEADY external load — stable passes, uniformly
    # inflated, nothing for the loop to converge away.  The signal is
    # the EXTERNAL average core use across the measured region (total
    # guest busy minus this process tree) — a loadavg probe here would
    # mostly read the bench's own just-finished passes and relabel
    # every settled loaded-start run.  Same ~1.5-core threshold as the
    # warmup probe (the r12/r13 A/B's measured inflation point).
    try:
        hz = os.sysconf("SC_CLK_TCK")
    except (ValueError, OSError):
        hz = 100
    external_ticks = max(
        0, (_d[0] + _d[1] + _d[2]) - (tree_at_end - tree_at_warmup))
    external_cores_avg = (round(external_ticks / hz / region_wall_s, 2)
                          if region_wall_s > 0 else None)
    final_adjudication = (
        band_adjudication if not needs_convergence
        else "never_settled" if not bench_converged
        else "converged_under_load"
        if (band_adjudication == "loaded"
            and (external_cores_avg or 0) > LOADED_THRESHOLD)
        else "converged")

    results = {name: round(min(p[name] for p in pass_times), 3)
               for name in HEADLINE}
    # guard the degenerate cases (empty headline / zero-time pass) so a
    # broken run still emits its JSON line instead of dying on the stat
    spread_pct = _spread()

    # ingest throughput: flatten 210 fixture blocks → keyed store
    from meeseeker_spark import fixtures
    from meeseeker_spark.flatten import flatten_ops_with_virtual
    from meeseeker_spark.query import OpsStore
    from meeseeker_spark.schemas import BLOCKS, VIRTUAL_OPS

    from meeseeker_spark.flatten import flatten_engine_blocks
    from meeseeker_spark.schemas import ENGINE_BLOCKS

    with tempfile.TemporaryDirectory() as d:
        fx = fixtures.generate(n_blocks=210, seed=42)
        fixtures.write_parquet(fx, d)
        blocks = spark.read.schema(BLOCKS).parquet(f"{d}/blocks.parquet")
        vops = spark.read.schema(VIRTUAL_OPS).parquet(f"{d}/virtual_ops.parquet")
        eng = spark.read.schema(ENGINE_BLOCKS).parquet(
            f"{d}/engine_blocks.parquet")
        n_eng = eng.count()
        ingest_s = engine_s = float("inf")
        for rep in range(reps):  # best-of-N, same policy as the queries:
            # post-headline heaps leave GC debt that can halve the first
            # rep's apparent throughput (measured 109 vs 225+ warm)
            t0 = time.perf_counter()
            OpsStore.write(flatten_ops_with_virtual(blocks, vops),
                           f"{d}/ops{rep}")
            ingest_s = min(ingest_s, time.perf_counter() - t0)
            # sidechain daemon parity (S5): engine flatten → keyed store
            t0 = time.perf_counter()
            OpsStore.write(flatten_engine_blocks(eng), f"{d}/engine_ops{rep}")
            engine_s = min(engine_s, time.perf_counter() - t0)
    # NOTE (r7, VERDICT r6 watch item): the mainnet-vs-engine blocks/s
    # ratio is ~3× BY CONSTRUCTION, not a plan gap — the fixture emits
    # one engine block per 3 mainnet blocks (the sidechain's real
    # cadence), and both flatten→store runs are fixed-overhead-dominated
    # at 210-block scale, taking near-identical wall time (r6: 0.394 s
    # vs 0.386 s).  The raw walls ride in extras so the ratio stays
    # self-explaining.
    blocks_per_s = round(210 / ingest_s, 2)
    engine_blocks_per_s = round(n_eng / engine_s, 2)

    # continuous-ingest dedup screen throughput: stream the bench SF's
    # documents through start_screen in 2 micro-batches (band index +
    # candidate-id-pruned verify — the training-pipeline admission path).
    # Per-trigger fixed overhead is ~8 s (CC loop, checkpoints); two
    # sf0.1-sized batches amortize it into an honest steady-state rate.
    import shutil as _sh

    from pyspark.sql import functions as F

    from meeseeker_spark.tables import load as _load
    with tempfile.TemporaryDirectory() as d:
        from meeseeker_spark.streaming.screen import start_screen
        docs = _load(spark, SF_DIR, "documents") \
            .select("doc_id", "text", "lang", "source", "n_chars")
        n_docs = docs.count()
        os.makedirs(f"{d}/incoming")
        for i in range(2):
            part = f"{d}/w{i}"
            (docs.where(F.col("doc_id") % 2 == i).coalesce(1)
             .write.parquet(part))
            src = next(p for p in os.listdir(part) if p.endswith(".parquet"))
            _sh.move(f"{part}/{src}", f"{d}/incoming/b{i}.parquet")
        t0 = time.perf_counter()
        q = start_screen(spark, f"{d}/incoming", f"{d}/out", f"{d}/ckpt")
        q.awaitTermination(300)
        screen_s = time.perf_counter() - t0
    screen_docs_per_s = round(n_docs / screen_s, 2)

    total = round(sum(results.values()), 3)
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": sf,
        "extras": {
            "headline_pass_totals": pass_totals,
            "within_session_spread_pct": spread_pct,
            "warmup_pass_total_s": warmup_total,
            "ingest_blocks_per_s": blocks_per_s,
            "engine_ingest_blocks_per_s": engine_blocks_per_s,
            "ingest_wall_s": round(ingest_s, 3),
            "engine_ingest_wall_s": round(engine_s, 3),
            "engine_blocks_per_mainnet_block": round(n_eng / 210, 3),
            "screen_docs_per_s": screen_docs_per_s,
            "baseline_chain_blocks_per_s": 0.33,
            # 1/5/15-min load averages at warmup start and at emit time,
            # plus the cpu count they're relative to — the band-break
            # adjudication inputs (see the note at capture site)
            "load_avg_at_warmup": load_at_warmup,
            "load_avg_reprobe": load_reprobe,   # set iff warmup > threshold
            "load_avg_at_end": _load_avg(),
            "n_cpus": os.cpu_count(),
            # "clean": timings are band-comparable; "loaded": external
            # load persisted through a 60 s settle — read the band's
            # upper half / prior A-B drift notes before suspecting plans
            "band_adjudication": band_adjudication,
            # convergence trace (VERDICT r14 item 1): when the warmup
            # said "loaded" or the passes spread >10%, extra warm
            # passes ran (cap reps+4, min 6) until the two best totals
            # agreed within 8% and the minima stopped falling.
            # final_adjudication: "clean" (no convergence needed) |
            # "converged" (settled, load drained — a quiet-box number)
            # | "converged_under_load" (settled but the external load
            # persisted: stable-under-load, NOT band-comparable) |
            # "never_settled" (totals prove the box never calmed)
            "n_warm_passes": len(pass_times),
            "best_two_gap_pct": gap,
            "bench_converged": bench_converged,
            "final_adjudication": final_adjudication,
            # average EXTERNAL core use across the measured region
            # (total guest busy minus this process tree) — the
            # under-load discriminator for the label above; loadavg at
            # end is kept for continuity but includes the bench's own
            # just-finished passes
            "external_cores_avg": external_cores_avg,
            # hypervisor steal over the measured region (see note at
            # _cpu_stat): >3% of busy time means the host throttled
            # this run — internally-stable numbers, externally slow;
            # band-compare against an un-throttled artifact
            "steal_pct_of_busy": steal_pct_of_busy,
            "host_throttled": host_throttled,
        },
    }))
    spark.stop()


if __name__ == "__main__":
    # strict opt-in values only (r16 review): "0"/"false"/"no"/"off"
    # must run the NORMAL bench — a harness disabling the lane the
    # conventional way would otherwise get the orchestrator's entirely
    # different output schema.
    _lane = os.environ.get("SPARK_GRAFT_BENCH_SF1_LANE", "").lower()
    if _lane == "worker":
        _sf1_worker()
    elif _lane in ("1", "true", "yes", "on"):
        _sf1_orchestrate()
    else:
        main()
