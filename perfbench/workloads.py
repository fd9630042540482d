"""The benchmark's workloads.  See perfbench/README.md for why each exists.

Each workload function takes a ``Run`` (seed, run length, tracer, work
dir) and fills in its throughput, latency samples, set-up time, checks
and, when traced, per-layer numbers.  The program is driven only through its
public functions: ``session.get_spark``, ``streaming.pipeline``'s
``streaming_ops``/``start_ingest``, ``query.OpsStore``,
``manifest.ManifestStore`` and ``streaming.screen.start_screen``.
"""

from __future__ import annotations

import collections
import contextlib
import fnmatch
import itertools
import json
import os
import random
import shutil
import subprocess
import time

import pyarrow.dataset as pads
import pyarrow.parquet as pq

from . import inputs, stats
from .spans import Tracer

# -- sizing (README.md explains each choice) --------------------------------
CATCHUP_BLOCKS = 8_000       # landed as CATCHUP_FILES large files
CATCHUP_FILES = 2
WARM_PASSES = 2              # untimed restarts before the measured ones
CATCHUP_PASSES = 2           # measured restarts per run, at least
PASS_S = 4.5                 # a warm pass on a quiet 4-vCPU host
QUERY_BLOCKS = 1_600         # query_mix store, built in QUERY_COMMITS
QUERY_COMMITS = 4            # streaming commits
SCREEN_DOCS = 300            # the traced-run screen probe
SETUP_REPEATS = 3            # session set-ups per run; setup_s is the median
# the query mix per cycle of 20 queries (fixed counts, shuffled per seed)
QUERY_MIX = {"get": 6, "scan_type": 2, "scan_block": 3, "scan_trx": 2,
             "find_block": 3, "find_trx": 2, "has_block": 2}
CYCLE = sum(QUERY_MIX.values())
WARM_QUERIES = 2 * CYCLE     # untimed queries before the measured ones
QUERY_RATE = 4.0             # requests/s of one client on a quiet host
SCAN_TYPES = ("vote", "comment", "transfer", "custom_json")
TAIL_Q = 0.75                # the tail percentile every workload reports
STREAM_TIMEOUT_S = 150


class Run:
    def __init__(self, root: str, seed: int, seconds: int, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if trace else None
        self.work = os.path.join(root, ".perfbench_work")
        self.cache = os.path.join(self.work, "inputs")
        self.scratch = os.path.join(self.work, "runs", str(os.getpid()))
        # results: the workload's throughput and the latency samples (ms)
        # its percentiles are taken over; ``windows`` is (items, busy s,
        # % of busy CPU stolen) of each measured window, for the info line
        self.items_per_s = 0.0
        self.latencies_ms: list[float] = []
        self.windows: list[tuple[int, float, float]] = []
        self.commits: list[list[float]] = []
        self.setup_s = 0.0
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.progress: list[dict] = []
        self.session_start_s = 0.0
        self.spark = None
        self.phases_s: dict[str, float] = {}
        self._t_phase = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase under ``name`` (wall time, for the
        info line: where a run's time went)."""
        now = time.perf_counter()
        self.phases_s[name] = round(
            self.phases_s.get(name, 0.0) + now - self._t_phase, 3)
        self._t_phase = now

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def out_dir(self, name: str) -> str:
        d = os.path.join(self.scratch, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    # -- session ------------------------------------------------------------

    def start_sessions(self) -> float:
        """Start the SparkSession SETUP_REPEATS times (stopping it in
        between) and run a small warm-up job each time; returns the median
        set-up time.  The first start launches the JVM and is reported on
        its own as ``session.start_s``."""
        from meeseeker_spark import session
        from pyspark.sql import functions as F
        times = []
        for i in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            cpus = len(os.sched_getaffinity(0))
            self.spark = session.get_spark(app_name="perfbench", cpus=cpus)
            if i == 0:
                self.session_start_s = time.perf_counter() - t0
            (self.spark.range(0, 200_000, numPartitions=4)
             .groupBy((F.col("id") % 97).alias("k")).count().collect())
            times.append(time.perf_counter() - t0)
        return stats.median(times)

    def stop(self) -> None:
        """Stop the SparkSession and the JVM it launched, and wait for the
        JVM to exit."""
        if self.spark is None:
            return
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if proc is not None:
            try:
                proc.stdin.close()     # the gateway exits on stdin EOF
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------------
# shared: ingest a landed chain, and check a store against the golden chain
# ---------------------------------------------------------------------------

def _channel_fn(run: Run):
    from meeseeker_spark.channels import op_channels
    if run.tracer is None:
        return op_channels
    return run.tracer.wrap(op_channels, "channels.op_channels")


def ingest(run: Run, chain: inputs.Chain, out: str) -> tuple[float, float]:
    """Ingest every landed file of ``chain`` with
    ``start_ingest(available_now=True)``, one block file and one vop file
    per trigger.  Returns (wall-clock start, duration in s)."""
    from meeseeker_spark.streaming import pipeline as P
    spark = run.spark
    t_wall = time.time()
    t0 = time.perf_counter()
    ops = P.streaming_ops(
        P.read_block_stream(spark, chain.blocks_dir, max_files_per_trigger=1),
        P.read_vop_stream(spark, chain.vops_dir, max_files_per_trigger=1))
    q = P.start_ingest(ops, os.path.join(out, "ops"),
                       os.path.join(out, "channels"),
                       os.path.join(out, "ckpt"), available_now=True,
                       channel_fn=_channel_fn(run))
    try:
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError(f"ingest did not finish in {STREAM_TIMEOUT_S}s")
    finally:
        if q.isActive:
            q.stop()
    dur = time.perf_counter() - t0
    if run.tracer is not None:
        run.progress += [p for p in q.recentProgress if p["numInputRows"]]
    return t_wall, dur


def _manifest_versions(store: str) -> list[tuple[int, float, list[str]]]:
    """(version, commit mtime, files) of every committed manifest version
    of a ManifestStore, oldest first.  A version's json is written and
    fsynced just before the link that publishes it, so its mtime is the
    moment a reader could first see the version."""
    mdir = os.path.join(store, "_manifest")
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json") \
                and name[1:-5].isdigit():
            path = os.path.join(mdir, name)
            with open(path) as f:
                files = json.load(f)["files"]
            out.append((int(name[1:-5]), os.path.getmtime(path), files))
    return sorted(out)


def visibility_ms(chain: inputs.Chain, ops_path: str,
                  t_wall: float) -> list[float]:
    """Per block: ms from ``t_wall`` until the first committed ``_meta``
    manifest version whose high-water mark covers it (``_meta`` is written
    last, so its commit implies the block's ops and channels are
    visible).  Blocks never covered are left out, and show as a failed
    check."""
    meta = ops_path + "_meta"
    seen: set[str] = set()
    hwm = chain.first_block - 1
    out: list[float] = []
    for _, mtime, files in _manifest_versions(meta):
        new = [f for f in files if f not in seen]
        seen.update(new)
        for f in new:
            col = pq.read_table(os.path.join(meta, f),
                                columns=["last_block_num"]).column(0)
            top = max((v for v in col.to_pylist() if v is not None),
                      default=hwm)
            if top > hwm:
                out += [(mtime - t_wall) * 1e3] * (top - hwm)
                hwm = top
    return out


def check_store(run: Run, chain: inputs.Chain, out: str) -> None:
    """The store's key set and channel rows equal the golden chain's."""
    from meeseeker_spark.manifest import ManifestStore

    def read(path: str, cols: list[str]):
        store = ManifestStore(run.spark, path)
        files = [os.path.join(path, f) for f in store.files()]
        return pads.dataset(files, format="parquet").to_table(columns=cols)

    keys = read(os.path.join(out, "ops"), ["key"]).column(0).to_pylist()
    golden = {o["key"] for o in chain.ops}
    run.check(len(keys) == len(golden) and set(keys) == golden,
              f"ops key set: {len(keys)} rows vs {len(golden)} golden")
    ch = read(os.path.join(out, "channels"), ["channel", "kind"])
    got = collections.Counter(zip(ch.column(0).to_pylist(),
                                  ch.column(1).to_pylist()))
    run.check(got == chain.channels,
              f"channel rows: {sum(got.values())} vs "
              f"{sum(chain.channels.values())} golden")


def _stream_layer(run: Run) -> None:
    """streaming.* from the public StreamingQuery progress reports."""
    pr = run.progress
    d = [p["durationMs"] for p in pr]

    def med(vals) -> float:
        return stats.median(vals) if vals else 0.0

    run.layer.update({
        "streaming.triggers": float(len(pr)),
        "streaming.rows_per_trigger": (sum(p["numInputRows"] for p in pr)
                                       / len(pr)) if pr else 0.0,
        "streaming.trigger_p50_ms": med([x.get("triggerExecution", 0)
                                         for x in d]),
        "streaming.planning_ms": med([x.get("latestOffset", 0)
                                      + x.get("getBatch", 0)
                                      + x.get("queryPlanning", 0) for x in d]),
        "streaming.walcommit_ms": med([x.get("walCommit", 0) for x in d]),
        "streaming.addbatch_ms": med([x.get("addBatch", 0) for x in d]),
    })


def _manifest_layer(run: Run, store: str) -> None:
    """manifest.*: append spans so far, and the newest version of the ops
    store ``store``."""
    appends = run.tracer.durations_ms("manifest.append")
    dfs = run.tracer.durations_ms("manifest.df")
    v, _, files = _manifest_versions(store)[-1]
    run.layer.update({
        "manifest.append_calls": float(len(appends)),
        "manifest.append_ms": sum(appends),
        "manifest.append_p50_ms": stats.median(appends) if appends else 0.0,
        "manifest.files": float(len(files)),
        "manifest.json_bytes": float(os.path.getsize(
            os.path.join(store, "_manifest", f"v{v}.json"))),
        "manifest.df_ms": stats.median(dfs) if dfs else 0.0,
    })


def _keys_layer(run: Run, patterns: list[str]) -> None:
    """keys.*: glob translation time, and the share of the scanned globs
    whose filter keeps an rlike residual on ``key`` (found by
    translating each pattern again after the measured phase)."""
    from meeseeker_spark import keys
    # the untraced original: these calls are not part of the run
    glob_to_filter = getattr(keys.glob_to_filter, "__wrapped__",
                             keys.glob_to_filter)
    us = [ms * 1e3 for ms in run.tracer.durations_ms("keys.glob_to_filter")]
    if us:
        run.layer["keys.glob_us"] = stats.median(us)
    if patterns:
        run.layer["keys.residual_frac"] = sum(
            "rlike(" in str(glob_to_filter(p)).lower()
            for p in patterns) / len(patterns)


def _flatten_channels_layer(run: Run, chain: inputs.Chain) -> None:
    """Single-layer timings outside the stream: the batch flatten of the
    landed chain into a no-op sink, then channel derivation over the
    cached flattened ops into a no-op sink."""
    from meeseeker_spark.channels import op_channels
    from meeseeker_spark.flatten import flatten_blocks, flatten_virtual_ops
    from meeseeker_spark.schemas import BLOCKS, VIRTUAL_OPS
    spark = run.spark
    ops = flatten_blocks(spark.read.schema(BLOCKS).parquet(
        chain.blocks_dir)).unionByName(flatten_virtual_ops(
            spark.read.schema(VIRTUAL_OPS).parquet(chain.vops_dir)))
    t0 = time.perf_counter()
    ops.write.format("noop").mode("overwrite").save()
    flat_s = time.perf_counter() - t0
    ops = ops.persist()
    n_ops = ops.count()
    t0 = time.perf_counter()
    op_channels(ops).write.format("noop").mode("overwrite").save()
    derive_ms = (time.perf_counter() - t0) * 1e3
    ops.unpersist()
    run.layer.update({
        "flatten.ops_per_s": n_ops / flat_s,
        "channels.rows_per_op": sum(chain.channels.values()) / chain.n_ops,
        "channels.derive_ms": derive_ms,
    })


# ---------------------------------------------------------------------------
# catchup: a restart/backfill over large pre-landed files
# ---------------------------------------------------------------------------

def catchup(run: Run) -> None:
    chain, run.gen_s = inputs.chain(run.cache, run.seed, CATCHUP_BLOCKS,
                                    CATCHUP_FILES)
    run.phase("inputs")
    run.setup_s = run.start_sessions()
    run.phase("setup")
    # untimed passes: the JIT keeps speeding the per-op path up until it
    # has seen a few passes of this size
    for i in range(WARM_PASSES):
        out = run.out_dir(f"warm{i}")
        ingest(run, chain, out)
        check_store(run, chain, out)
    run.phase("warmup")
    run.progress.clear()
    if run.tracer is not None:
        run.tracer.spans.clear()

    # Each pass restarts the ingest from scratch.  A run times a fixed
    # number of passes, as many as fill the run length on a quiet host:
    # the JIT keeps making passes faster for a dozen passes, so a run that
    # timed more passes because its host was quicker would read faster
    # still.  The run reports its fastest pass: every pass does identical
    # work, and the host only ever slows a pass down.
    best = float("inf")
    for i in range(max(CATCHUP_PASSES, round(run.seconds / PASS_S))):
        out = run.out_dir(f"catchup{i}")
        steal = stats.Steal()
        t_wall, dur = ingest(run, chain, out)
        run.windows.append((chain.n_blocks, dur, steal.pct()))
        run.phase("measure")
        lat = visibility_ms(chain, os.path.join(out, "ops"), t_wall)
        run.commits.append(sorted({round(x / 1e3, 3) for x in lat}))
        if dur < best:
            best = dur
            run.items_per_s = chain.n_blocks / dur
            run.latencies_ms = lat
        run.check(len(lat) == chain.n_blocks,
                  f"{len(lat)} of {chain.n_blocks} blocks became visible")
        check_store(run, chain, out)
        run.phase("check")
    if run.tracer is not None:
        _stream_layer(run)
        _manifest_layer(run, os.path.join(out, "ops"))
        _flatten_channels_layer(run, chain)
        run.phase("layers")
        screen_probe(run)


# ---------------------------------------------------------------------------
# query_mix: one closed-loop client over a store fragmented by many commits
# ---------------------------------------------------------------------------

class Golden:
    """Pure-Python answers to every query kind, from the fixture."""

    def __init__(self, chain: inputs.Chain):
        self.ops = chain.ops
        self.by_key = {o["key"]: o for o in self.ops}
        self.by_block = collections.defaultdict(list)
        self.by_trx = collections.defaultdict(list)
        for o in self.ops:
            self.by_block[o["block_num"]].append(o)
            self.by_trx[o["trx_id"]].append(o)
        self._scan: dict[str, set[str]] = {}

    def scan(self, pattern: str) -> set[str]:
        if pattern not in self._scan:
            self._scan[pattern] = {k for k in self.by_key
                                   if fnmatch.fnmatchcase(k, pattern)}
        return self._scan[pattern]

    def answer(self, kind: str, arg):
        if kind == "get":
            o = self.by_key.get(arg)
            return [(o["key"], o["value"])] if o else []
        if kind.startswith("scan_"):
            return self.scan(arg)
        if kind == "find_block":
            return sorted((o["key"], o["value"]) for o in self.by_block[arg])
        if kind == "find_trx":
            return sorted((o["key"], o["value"]) for o in self.by_trx[arg])
        if kind == "has_block":
            return arg in self.by_block
        raise ValueError(kind)


def query_plan(chain: inputs.Chain, seed: int, n_cycles: int) -> list:
    """``n_cycles`` cycles of the fixed QUERY_MIX counts, each shuffled,
    with arguments drawn from the golden set: (kind, argument).  Type
    scans go round SCAN_TYPES in order, because their result sizes differ
    by 10x and a seed must not change how much the client collects."""
    from meeseeker_spark.schemas import VIRTUAL_TRX_ID
    rng = random.Random(seed)
    ops = chain.ops
    trxs = sorted({o["trx_id"] for o in ops if o["trx_id"] != VIRTUAL_TRX_ID})
    lo, hi = chain.first_block, chain.last_block
    types = itertools.cycle(SCAN_TYPES)

    def arg(kind: str):
        if kind == "get":
            return rng.choice(ops)["key"]
        if kind == "scan_type":
            return f"hive:*:{next(types)}"
        if kind == "scan_block":
            return f"hive:{rng.randint(lo, hi)}:*"
        if kind == "scan_trx":
            return f"hive:*:{rng.choice(trxs)}:*"
        if kind == "find_block":
            return rng.randint(lo, hi)
        if kind == "find_trx":
            return rng.choice(trxs)
        if kind == "has_block":
            # one probe in four asks for a block past the head
            return rng.randint(lo, hi) if rng.random() < 0.75 \
                else hi + rng.randint(1, 1000)
        raise ValueError(kind)

    plan = []
    for _ in range(n_cycles):
        cycle = [k for k, n in QUERY_MIX.items() for _ in range(n)]
        rng.shuffle(cycle)
        plan += [(k, arg(k)) for k in cycle]
    return plan


def execute(store, kind: str, arg):
    """One consumer request, with its result fully materialised."""
    if kind == "get":
        return [(r["key"], r["value"]) for r in store.get(arg).collect()]
    if kind.startswith("scan_"):
        return {r["key"] for r in store.scan(arg).select("key").collect()}
    if kind == "find_block":
        return sorted((r["key"], r["value"])
                      for r in store.find_block(arg).collect())
    if kind == "find_trx":
        return sorted((r["key"], r["value"])
                      for r in store.find_trx(arg).collect())
    if kind == "has_block":
        return store.has_block(arg)
    raise ValueError(kind)


def query_mix(run: Run) -> None:
    from meeseeker_spark.query import OpsStore
    chain, run.gen_s = inputs.chain(run.cache, run.seed, QUERY_BLOCKS,
                                    QUERY_COMMITS)
    run.phase("inputs")
    session_s = run.start_sessions()
    out = run.out_dir("store")
    _, build_s = ingest(run, chain, out)
    run.setup_s = session_s + build_s
    run.phase("setup")
    check_store(run, chain, out)
    if run.tracer is not None:
        _stream_layer(run)
        _manifest_layer(run, os.path.join(out, "ops"))

    store = OpsStore(run.spark, os.path.join(out, "ops"))
    golden = Golden(chain)
    # A run sends a fixed number of whole cycles, as many as fill the run
    # length on a quiet host: latency keeps falling for the first few
    # hundred queries of a fresh JVM, so a run that sent more requests
    # because its host was quicker would read faster still.  The first
    # WARM_QUERIES are not timed.
    n_cycles = -(-max(stats.min_samples(TAIL_Q),
                      round(run.seconds * QUERY_RATE)) // CYCLE)
    plan = query_plan(chain, run.seed, n_cycles + WARM_QUERIES // CYCLE)
    for kind, a in plan[:WARM_QUERIES]:
        execute(store, kind, a)
    plan = plan[WARM_QUERIES:]
    run.phase("warmup")

    per_kind = collections.defaultdict(list)
    latencies = run.latencies_ms
    for c in range(n_cycles):
        steal = stats.Steal()
        for kind, a in plan[c * CYCLE:(c + 1) * CYCLE]:
            span = run.tracer.span(f"client.{kind}") if run.tracer \
                else contextlib.nullcontext()
            t0 = time.perf_counter()
            try:
                with span:
                    got = execute(store, kind, a)
            except Exception as e:      # a failed query is a failed check
                got = e
            ms = (time.perf_counter() - t0) * 1e3
            latencies.append(ms)
            per_kind[kind].append(ms)
            run.check(got == golden.answer(kind, a), f"{kind}({a!r})"
                      + (f": {got!r}" if isinstance(got, Exception) else ""))
        run.windows.append((CYCLE, sum(latencies[-CYCLE:]) / 1e3,
                            steal.pct()))
    # throughput is that of the fastest cycle, as catchup reports its
    # fastest pass: every cycle sends the same mix, and the host only ever
    # slows a cycle down
    run.items_per_s = max(n / busy for n, busy, _ in run.windows)
    run.phase("measure")

    if run.tracer is not None:
        dfs = run.tracer.durations_ms("manifest.df")
        run.layer["manifest.df_ms"] = stats.median(dfs) if dfs else 0.0
        _keys_layer(run, [a for k, a in plan if k.startswith("scan_")])
        for kind in QUERY_MIX:
            v = per_kind.get(kind)
            run.layer[f"query.{kind}_p50_ms"] = stats.median(v) if v else 0.0
        split = run.tracer.split_ms("client.")
        run.layer["query.plan_p50_ms"] = stats.median([c for _, c in split])
        run.layer["query.exec_p50_ms"] = stats.median([o for o, _ in split])
        _flatten_channels_layer(run, chain)
        run.phase("layers")


# ---------------------------------------------------------------------------
# the dedup screen, measured per layer only
# ---------------------------------------------------------------------------

def screen_probe(run: Run) -> None:
    """One restart of the streaming dedup screen over three pre-landed
    trigger files (``start_screen(exact_index=True)``), checked against
    the DuckDB oracle; fills the ``screen.*`` per-layer numbers.  It runs
    in the traced catchup run only: one pass costs about as much as a
    whole catchup run (see README.md)."""
    from meeseeker_spark.streaming import screen
    docs, gen_s = inputs.documents(run.cache, run.seed, SCREEN_DOCS)
    run.gen_s += gen_s
    run.phase("inputs")
    out = run.out_dir("screen")
    t0 = time.perf_counter()
    q = screen.start_screen(run.spark, docs.incoming_dir,
                            os.path.join(out, "out"),
                            os.path.join(out, "ckpt"), exact_index=True)
    try:
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError("screen did not finish")
    finally:
        if q.isActive:
            q.stop()
    screen_s = time.perf_counter() - t0
    run.phase("screen")
    prog = [p for p in q.recentProgress if p["numInputRows"]]
    run.check(sorted(p["batchId"] for p in prog)
              == list(range(len(docs.batch_sizes))),
              f"screen triggers {[p['batchId'] for p in prog]}")
    corpus = pads.dataset(os.path.join(out, "out", "corpus"),
                          format="parquet", partitioning="hive"
                          ).to_table(columns=["batch_id", "doc_id"])
    admitted = set(zip(corpus.column(0).to_pylist(),
                       corpus.column(1).to_pylist()))
    run.check(admitted == docs.admitted,
              f"admitted {len(admitted)} vs {len(docs.admitted)} oracle")
    fl = pads.dataset(os.path.join(out, "out", "flagged"),
                      format="parquet", partitioning="hive"
                      ).to_table(columns=["batch_id", "new_id",
                                          "corpus_id", "jaccard"])
    flagged = collections.Counter(zip(fl.column(0).to_pylist(),
                                      fl.column(1).to_pylist(),
                                      fl.column(2).to_pylist()))
    run.check(flagged == docs.flagged,
              f"flagged {sum(flagged.values())} vs "
              f"{sum(docs.flagged.values())} oracle")
    run.layer.update({
        "screen.docs_per_s": docs.n_docs / screen_s,
        "screen.trigger_ms": stats.median(
            [p["durationMs"]["triggerExecution"] for p in prog]),
        "screen.admit_ratio": len(admitted) / docs.n_docs,
        "screen.exact_hits": float(sum(
            1 for j in fl.column(3).to_pylist() if j == 1.0)),
    })
    run.phase("check")


WORKLOADS = {"catchup": catchup, "query_mix": query_mix}
