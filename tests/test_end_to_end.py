"""One full system pass — the reference's deployment story in a test:
stream blocks+vops in → keyed store → SCAN/GET query surface → D1
reconciliation oracle-clean → TTL retention → reset. Every stage is the
same code the individual suites test; this asserts they compose."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from meeseeker_spark import fixtures
from meeseeker_spark.manifest import ManifestStore
from meeseeker_spark.query import OpsStore
from meeseeker_spark.streaming import pipeline as P
from meeseeker_spark.verify import reconcile_blocks


def _write_batches(rows, schema, out_dir, n_files):
    os.makedirs(out_dir, exist_ok=True)
    chunk = max(1, len(rows) // n_files)
    for i in range(0, len(rows), chunk):
        t = pa.Table.from_pylist(rows[i:i + chunk],
                                 schema=fixtures._ARROW_SCHEMAS[schema])
        pq.write_table(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def test_full_lifecycle(spark, tmp_path_factory):
    fx = fixtures.generate(n_blocks=42, seed=11)
    d = tmp_path_factory.mktemp("e2e")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 3)
    _write_batches(fx.virtual_ops, "virtual_ops", str(d / "vops"), 2)

    # 1. streaming ingest (checkpointed, idempotent)
    ops_stream = P.streaming_ops(
        P.read_block_stream(spark, str(d / "blocks")),
        P.read_vop_stream(spark, str(d / "vops")))
    q = P.start_ingest(ops_stream, str(d / "ops"), str(d / "channels"),
                       str(d / "ckpt"))
    q.awaitTermination(120)

    # 2. materialize the keyed store from the streamed sink
    view = P.ops_view(spark, str(d / "ops"))
    OpsStore.write(view, str(d / "store"))
    store = OpsStore(spark, str(d / "store"))
    assert store.df().count() == len(fx.ops_expected)

    # 3. consumer query surface over the store
    votes = store.scan("hive:*:vote")
    assert votes.count() == sum(
        1 for o in fx.ops_expected if o["op_type"] == "vote")
    some = fx.ops_expected[7]
    got = store.get(some["key"]).collect()
    assert len(got) == 1 and got[0]["trx_id"] == some["trx_id"]
    assert store.has_block(some["block_num"])

    # 4. verification analytics: D1 must be exact on uncorrupted data
    from pyspark.sql import functions as F

    from meeseeker_spark.schemas import BLOCKS

    blocks_df = spark.read.schema(BLOCKS).parquet(str(d / "blocks"))
    rec = reconcile_blocks(store.df(), blocks_df)
    assert rec.where("NOT reconciled").count() == 0

    # 5. TTL retention: age half the store, expire, verify bound
    aged = store.df().withColumn(
        "ingested_at",
        F.when(F.col("block_num") % 2 == 0, dt.datetime(2000, 1, 1))
        .otherwise(dt.datetime(2100, 1, 1)))
    OpsStore.write(aged, str(d / "store2"))
    removed = ManifestStore(spark, str(d / "store2")).expire(
        ttl_s=86_400, now=dt.datetime(2000, 1, 3))
    store2 = OpsStore(spark, str(d / "store2"))
    left = store2.df()
    assert removed > 0
    assert left.where("block_num % 2 = 0").count() == 0
    assert left.where("block_num % 2 = 1").count() > 0

    # 6. reset deletes the chain's rows in one commit; the emptied
    # store keeps its schema readable
    store2.reset("hive")
    assert store2.df().where("chain = 'hive'").count() == 0
    assert "key" in store2.df().columns


def test_cli_surface(spark, tmp_path_factory, capsys):
    """bin/meeseeker parity: sync → find/scan → verify → reset, exit codes
    matching the reference's conventions (0 ok, N mismatches for verify)."""
    from meeseeker_spark.__main__ import main

    fx = fixtures.generate(n_blocks=21, seed=13)
    d = tmp_path_factory.mktemp("cli")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 2)
    _write_batches(fx.virtual_ops, "virtual_ops", str(d / "vops"), 1)

    assert main(["sync", "--blocks", str(d / "blocks"),
                 "--vops", str(d / "vops"), "--out", str(d / "out")]) == 0
    # materialize a store for the query commands
    view = P.ops_view(spark, str(d / "out" / "ops"))
    OpsStore.write(view, str(d / "store"))

    blk = str(fx.blocks[0]["block_num"])
    assert main(["find", "block", blk, "--store", str(d / "store")]) == 0
    out = capsys.readouterr().out
    assert f"hive:{blk}:" in out  # reference prints key+value pairs

    assert main(["scan", "hive:*:vote", "--store", str(d / "store")]) == 0
    assert main(["find", "trx", "ffffffffffffffffffffffffffffffffffffffff",
                 "--store", str(d / "store")]) == 1  # not found

    assert main(["verify", "--store", str(d / "store"),
                 "--blocks", str(d / "blocks")]) == 0

    assert main(["reset", "hive", "--store", str(d / "store")]) == 0
    assert OpsStore(spark, str(d / "store")).df().where(
        "chain = 'hive'").count() == 0

    # --max-blocks (r13, the reference verify tasks' bound): a store
    # holding only the newest 10 blocks' ops fails a full-range verify
    # (the older blocks' expected sets are empty) but passes when the
    # check is bounded to the newest 10
    tail_floor = fx.blocks[-10]["block_num"]
    tail_view = view.where(f"block_num >= {tail_floor}")
    OpsStore.write(tail_view, str(d / "tail_store"))
    capsys.readouterr()
    assert main(["verify", "--store", str(d / "tail_store"),
                 "--blocks", str(d / "blocks")]) > 0
    assert main(["verify", "--store", str(d / "tail_store"),
                 "--blocks", str(d / "blocks"),
                 "--max-blocks", "10"]) == 0
    assert "10 blocks checked, 0 mismatched" in capsys.readouterr().out

    # r15 review: a COMBINED (post-compact) store holds mainnet and
    # engine rows, and block numbers collide across chains generically —
    # the mainnet verify must not let the other chain's trx ids pollute
    # a block's expected set.  Fabricate the collision explicitly: same
    # block numbers, engine-suffixed chain, DIFFERENT trx ids.
    from pyspark.sql import functions as SF
    polluter = (view.withColumn("chain", SF.lit("hive_engine"))
                .withColumn("trx_id", SF.concat(
                    SF.lit("ee"), SF.substring("trx_id", 3, 38))))
    OpsStore.write(view.unionByName(polluter), str(d / "combined_store"))
    capsys.readouterr()
    assert main(["verify", "--store", str(d / "combined_store"),
                 "--blocks", str(d / "blocks")]) == 0
    assert "0 mismatched" in capsys.readouterr().out


def test_cli_verify_witness_and_find_chain(spark, tmp_path_factory, capsys):
    """r13 bin-parity additions: (a) `verify --witness` runs the D4
    witness-round check (Rakefile:495-643 verify:witness:schedule) with
    the reference's exit semantics — the missing+extra count (there
    ``exit(-(missing+extra))``); (b) `find --chain` restricts the lookup
    like the find task's optional chain arg (Rakefile:81-99)."""
    from meeseeker_spark.__main__ import main
    from meeseeker_spark.schemas import BLOCKS, WITNESS_SCHEDULES
    from meeseeker_spark.verify import witness_rounds

    fx = fixtures.generate(n_blocks=84, seed=13)   # several rounds, one
    d = tmp_path_factory.mktemp("cli_witness")     # deliberately corrupted
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 2)
    _write_batches(fx.witness_schedules, "witness_schedules",
                   str(d / "scheds"), 1)

    rounds = witness_rounds(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks")),
        spark.read.schema(WITNESS_SCHEDULES).parquet(str(d / "scheds")))
    want_penalty = sum(r["penalty"] for r in
                       rounds.where("NOT ok").collect())
    assert want_penalty > 0            # the fixture corrupts one round

    rc = main(["verify", "--witness", "--blocks", str(d / "blocks"),
               "--schedules", str(d / "scheds")])
    assert rc == min(want_penalty, 125)
    assert f"penalty {want_penalty}" in capsys.readouterr().out

    # --max-blocks bounds the check to rounds ending in the newest N:
    # a window past the corrupted round verifies clean
    last_ok_end = max(r["round_end"] for r in rounds.where("ok").collect())
    tip = fx.blocks[-1]["block_num"]
    if last_ok_end > tip - 21:         # newest round is clean
        assert main(["verify", "--witness", "--blocks", str(d / "blocks"),
                     "--schedules", str(d / "scheds"),
                     "--max-blocks", "21"]) == 0
        capsys.readouterr()

    # a capture whose tip cuts a round mid-way (ADVICE r13): the
    # straddling round is SKIPPED and reported, not flagged missing —
    # the exit code stays the corrupted round's penalty alone
    _write_batches(fx.blocks[:-10], "blocks", str(d / "blocks_cut"), 2)
    rc = main(["verify", "--witness", "--blocks", str(d / "blocks_cut"),
               "--schedules", str(d / "scheds")])
    assert rc == min(want_penalty, 125)     # no false 'missing' from the cut
    out = capsys.readouterr().out
    assert "1 rounds skipped (not fully covered by --blocks)" in out

    # r14 review: duplicate schedule rows (a raw re-delivered capture,
    # not the deduped publish log) must not report phantom skips — the
    # skip count keys on DISTINCT rounds
    _write_batches([s for s in fx.witness_schedules for _ in range(2)],
                   "witness_schedules", str(d / "scheds_dup"), 1)
    rc = main(["verify", "--witness", "--blocks", str(d / "blocks"),
               "--schedules", str(d / "scheds_dup")])
    assert rc == min(want_penalty, 125)
    assert "skipped" not in capsys.readouterr().out

    # ADVICE r14: a re-delivered round carrying a DIFFERENT shuffled
    # array (or a different schedule-object id for the same boundary)
    # graded as TWO rows for one round, driving the skip count
    # negative.  The CLI now dedups on the publish-once boundary —
    # next_shuffle_block_num alone, the reader's own key — before
    # grading AND counting, so graded rows equal rounds.  The array
    # mutation is a reversal: set-compare grading is order-blind, so
    # the penalty is identical whichever duplicate survives the dedup;
    # the id mutation is a pure copy under a new id, same invariance.
    mut = dict(fx.witness_schedules[0])
    mut["current_shuffled_witnesses"] = list(
        reversed(mut["current_shuffled_witnesses"]))
    mut2 = dict(fx.witness_schedules[1])
    mut2["id"] = 990000 + int(mut2["id"])
    _write_batches(fx.witness_schedules + [mut, mut2],
                   "witness_schedules", str(d / "scheds_mut"), 1)
    rc = main(["verify", "--witness", "--blocks", str(d / "blocks"),
               "--schedules", str(d / "scheds_mut")])
    assert rc == min(want_penalty, 125)
    out = capsys.readouterr().out
    assert f"{len(fx.witness_schedules)} rounds checked" in out
    assert "skipped" not in out

    # r14 review: a capture too short to fully cover ANY round verified
    # nothing — that must be a loud non-zero exit, not a clean 0 a
    # scripted caller mistakes for a full verification
    _write_batches(fx.blocks[:10], "blocks", str(d / "blocks_tiny"), 1)
    rc = main(["verify", "--witness", "--blocks", str(d / "blocks_tiny"),
               "--schedules", str(d / "scheds")])
    assert rc == 125
    cap = capsys.readouterr()
    assert "nothing" in cap.err and "verified" in cap.err

    # find --chain: matching chain finds the key, a wrong chain finds none
    from meeseeker_spark.flatten import flatten_blocks
    OpsStore.write(
        flatten_blocks(spark.read.schema(BLOCKS)
                       .parquet(str(d / "blocks"))),
        str(d / "store"))
    blk = str(fx.blocks[0]["block_num"])
    assert main(["find", "block", blk, "--store", str(d / "store"),
                 "--chain", "hive"]) == 0
    assert main(["find", "block", blk, "--store", str(d / "store"),
                 "--chain", "steem"]) == 1   # no such chain in the store


def test_cli_verify_witness_publish_log_and_null_payload(
        spark, tmp_path_factory, capsys):
    """r15 review hardening of `verify --witness`:

    (a) On the publish log (a manifest store whose rows carry their
    batch id) a payload-divergent republished duplicate resolves to the
    NEWEST batch's row — the same rule ScheduleStore applies — even when
    the stale payload sorts higher in the raw payload order, so the
    verdict matches what any reader of the same log would grade.

    (b) A capture row with a NULL scheduled-witness array is UNGRADABLE
    (ok/penalty go NULL); that must be a loud 125, not a silent pass —
    NULL-skipping aggregation previously reported the round as checked
    and clean."""
    from pyspark.sql import functions as F

    from meeseeker_spark.__main__ import main
    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.schemas import BLOCKS, WITNESS_SCHEDULES
    from meeseeker_spark.verify import witness_rounds

    fx = fixtures.generate(n_blocks=84, seed=13)
    d = tmp_path_factory.mktemp("cli_witness_log")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 2)
    _write_batches(fx.witness_schedules, "witness_schedules",
                   str(d / "scheds"), 1)
    rounds = witness_rounds(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks")),
        spark.read.schema(WITNESS_SCHEDULES).parquet(str(d / "scheds")))
    want_penalty = sum(r["penalty"] for r in
                       rounds.where("NOT ok").collect())

    # (a) stale divergent payload in an OLD batch; the corrected full
    # set in a NEWER one.  "zzz..." sorts the stale payload HIGHEST in
    # raw payload order, so only batch-id precedence can pick fresh.
    stale = dict(fx.witness_schedules[0])
    stale["current_shuffled_witnesses"] = (
        ["zzz_phantom"] + stale["current_shuffled_witnesses"][1:])
    _write_batches([stale], "witness_schedules", str(d / "stale"), 1)
    log = ManifestStore(spark, str(d / "log"))
    for batch_id, src in ((0, d / "stale"), (5, d / "scheds")):
        log.append(spark.read.schema(WITNESS_SCHEDULES).parquet(str(src))
                   .select("id", "next_shuffle_block_num",
                           "current_shuffled_witnesses")
                   .withColumn("batch_id", F.lit(batch_id)), batch_id)
    rc = main(["verify", "--witness", "--blocks", str(d / "blocks"),
               "--schedules", str(d / "log")])
    out = capsys.readouterr().out
    assert rc == min(want_penalty, 125)
    assert "zzz_phantom" not in out           # the stale payload lost
    assert f"{len(fx.witness_schedules)} rounds checked" in out

    # (b) a NULL scheduled array on a unique (covered) boundary
    nul = dict(fx.witness_schedules[1])
    nul["next_shuffle_block_num"] = int(nul["next_shuffle_block_num"]) + 1
    nul["current_shuffled_witnesses"] = None
    _write_batches(fx.witness_schedules + [nul], "witness_schedules",
                   str(d / "scheds_null"), 1)
    rc = main(["verify", "--witness", "--blocks", str(d / "blocks"),
               "--schedules", str(d / "scheds_null")])
    cap = capsys.readouterr()
    assert rc == 125
    assert "ungradable" in cap.err


def test_cli_verify_reads_store_layout_aware(spark, tmp_path_factory,
                                             capsys):
    """r15 review: `verify --store` raw-read the path, so on a manifest
    store it graded DEAD data files (expired-but-not-gc'd rows, orphans
    from a crashed pre-commit write) the query surface never serves.
    An uncommitted orphan planting a bogus trx id must not flip a
    healthy store to a non-zero exit."""
    from pyspark.sql import functions as F

    from meeseeker_spark.__main__ import main
    from meeseeker_spark.flatten import flatten_ops_with_virtual
    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.schemas import BLOCKS, VIRTUAL_OPS

    fx = fixtures.generate(n_blocks=21, seed=31)
    d = tmp_path_factory.mktemp("cli_verify_manifest")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 1)
    _write_batches(fx.virtual_ops, "virtual_ops", str(d / "vops"), 1)
    ops = flatten_ops_with_virtual(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks")),
        spark.read.schema(VIRTUAL_OPS).parquet(str(d / "vops")))
    ms = ManifestStore(spark, str(d / "store"))
    ms.append(ops.withColumn("ingested_at", F.current_timestamp()),
              batch_id=0)
    assert main(["verify", "--store", str(d / "store"),
                 "--blocks", str(d / "blocks")]) == 0
    capsys.readouterr()

    # orphan data file NOT in the manifest: a phantom trx in a real block
    phantom = ops.limit(1).withColumn(
        "trx_id", F.lit("f" * 40)).withColumn(
        "ingested_at", F.current_timestamp())
    phantom.coalesce(1).write.mode("append").parquet(
        str(d / "store" / "data"))
    assert main(["verify", "--store", str(d / "store"),
                 "--blocks", str(d / "blocks")]) == 0
    assert "0 mismatched" in capsys.readouterr().out


def test_cli_schedule_zero_batches_is_clean(spark, tmp_path_factory,
                                            capsys):
    """r15 review: a cadence `schedule` run before the first schedule
    file arrives commits zero batches — the post-run count crashed on
    the empty glob instead of reporting the (normal) empty run."""
    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("cli_sched_empty")
    os.makedirs(d / "in")
    assert main(["schedule", "--schedules", str(d / "in"),
                 "--out", str(d / "out")]) == 0
    assert "published 0 schedules" in capsys.readouterr().out


def test_cli_sync_at_block(spark, tmp_path_factory, capsys):
    """The reference's `sync [chain] [block_num]` positional
    (Rakefile:54 → at_block_num, block_follower_job.rb:106-108): an
    explicit start block BYPASSES the HWM and the resume policy.  r13:
    our sync grew the matching --at-block flag; pin that (a) only
    blocks >= at_block land, (b) it overrides --resume-policy (which
    would otherwise hold at the stale HWM)."""
    from meeseeker_spark.__main__ import main

    fx = fixtures.generate(n_blocks=21, seed=13)
    d = tmp_path_factory.mktemp("cli_at_block")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 2)
    mid = fx.blocks[10]["block_num"]

    assert main(["sync", "--blocks", str(d / "blocks"),
                 "--out", str(d / "out"), "--at-block", str(mid)]) == 0
    assert f"Sync from: {mid}" in capsys.readouterr().out
    got = sorted(r["block_num"] for r in
                 P.ops_view(spark, str(d / "out" / "ops"))
                 .select("block_num").distinct().collect())
    # exactly the op-bearing blocks at/after the explicit start (a block
    # with no transactions legitimately contributes no op rows)
    want = sorted({o["block_num"] for o in fx.ops_expected
                   if o["block_num"] >= mid
                   and o["trx_id"] != "0" * 40})   # no vop stream here
    assert got == want and want

    # --at-block wins over --resume-policy: a fresh out dir, both flags,
    # start at an even later block — the policy alone would start at the
    # policy decision, not here
    late = fx.blocks[15]["block_num"]
    assert main(["sync", "--blocks", str(d / "blocks"),
                 "--out", str(d / "out2"), "--resume-policy",
                 "--at-block", str(late)]) == 0
    out = capsys.readouterr().out
    assert f"Sync from: {late}" in out
    assert "Resuming from block" not in out and "Starting new sync" not in out
    got2 = sorted(r["block_num"] for r in
                  P.ops_view(spark, str(d / "out2" / "ops"))
                  .select("block_num").distinct().collect())
    want2 = sorted({o["block_num"] for o in fx.ops_expected
                    if o["block_num"] >= late
                    and o["trx_id"] != "0" * 40})
    assert got2 == want2 and want2


def test_cli_schedule(spark, tmp_path_factory, capsys):
    import json as _json

    from meeseeker_spark.__main__ import main
    from meeseeker_spark.flatten import flatten_blocks
    from meeseeker_spark.schemas import BLOCKS

    fx = fixtures.generate(n_blocks=42, seed=13)
    d = tmp_path_factory.mktemp("clisched")
    tripled = [s for s in fx.witness_schedules for _ in range(3)]
    _write_batches(tripled, "witness_schedules", str(d / "in"), 2)
    assert main(["schedule", "--schedules", str(d / "in"),
                 "--out", str(d / "out")]) == 0
    out = capsys.readouterr().out
    assert f"published {len(fx.witness_schedules)} schedules" in out

    # unified surface (VERDICT r3 item 8): one CLI scan, one glob
    # translator, over ops store + schedule publish log together
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 1)
    OpsStore.write(
        flatten_blocks(spark.read.schema(BLOCKS).parquet(str(d / "blocks"))),
        str(d / "store"))
    assert main(["scan", "hive:witness:schedule:*",
                 "--store", str(d / "store"),
                 "--schedules", str(d / "out" / "schedules")]) == 0
    rows = [_json.loads(ln) for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")]
    assert len(rows) == len(fx.witness_schedules)
    assert all(r["key"].startswith("hive:witness:schedule:") for r in rows)
    assert all(r["op_type"] is None for r in rows)

    # --schedule-chain names the publish log's derived keys (r13: the
    # witness:schedule task's [chain] arg) — same log, steem prefix
    assert main(["scan", "steem:witness:schedule:*",
                 "--store", str(d / "store"),
                 "--schedules", str(d / "out" / "schedules"),
                 "--schedule-chain", "steem"]) == 0
    rows2 = [_json.loads(ln) for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    assert len(rows2) == len(fx.witness_schedules)
    assert all(r["key"].startswith("steem:witness:schedule:")
               for r in rows2)

    # find inherits --schedule-chain (ADVICE r13: without it the unified
    # find surface always labeled schedule rows 'hive', so
    # `find block N --chain steem --schedules ...` could never match a
    # steem publish log's keys)
    rend = str(fx.witness_schedules[0]["next_shuffle_block_num"])
    assert main(["find", "block", rend, "--store", str(d / "store"),
                 "--schedules", str(d / "out" / "schedules"),
                 "--chain", "steem", "--schedule-chain", "steem"]) == 0
    frows = [_json.loads(ln) for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    assert frows and all(r["key"].startswith("steem:witness:schedule:")
                         for r in frows)
    assert main(["find", "block", rend, "--store", str(d / "store"),
                 "--schedules", str(d / "out" / "schedules"),
                 "--chain", "steem"]) == 1   # default label is hive
    capsys.readouterr()
    # r14: compact --schedules folds the publish log's per-trigger
    # commits in place (plant two republished duplicates to give the
    # fold work); the reader's key dedup answers identically after
    from pyspark.sql import functions as F

    from meeseeker_spark.manifest import ManifestStore
    slog = str(d / "out" / "schedules")
    ms = ManifestStore(spark, slog)
    for planted in (998, 999):
        ms.append(ms.df().withColumn("batch_id", F.lit(planted)), planted)
    assert main(["compact", "--ops", str(d / "store"),
                 "--schedules", slog]) == 0
    assert "schedule publish files" in capsys.readouterr().out
    assert len(ms.files()) == 1
    assert main(["scan", "hive:witness:schedule:*",
                 "--store", str(d / "store"), "--schedules", slog]) == 0
    rows3 = [_json.loads(ln) for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    assert sorted(r["key"] for r in rows3) == sorted(r["key"] for r in rows)

    # ops globs don't leak schedule rows through the unified surface
    assert main(["scan", "hive:*:vote", "--store", str(d / "store"),
                 "--schedules", str(d / "out" / "schedules")]) == 0
    vrows = [_json.loads(ln) for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    assert vrows and all(r["op_type"] == "vote" for r in vrows)


def test_cli_engine_sync_and_compact(spark, tmp_path_factory, capsys):
    """`sync --chain hive_engine` parity (Rakefile:58-62 dispatch) with E7
    auto-detection, then `compact` folds the streamed manifest store in
    place and the 6-segment engine glob scans it."""
    import json as _json

    from meeseeker_spark.__main__ import main
    from meeseeker_spark.manifest import ManifestStore

    fx = fixtures.generate(n_blocks=42, seed=11)
    d = tmp_path_factory.mktemp("cliengine")
    half = len(fx.engine_blocks) // 2
    # two syncs on one checkpoint: the second resumes with the late
    # half, so the sink holds one commit per sync for compact to fold
    for i, part in enumerate((fx.engine_blocks[:half],
                              fx.engine_blocks[half:])):
        _write_batches(part, "engine_blocks", str(d / f"eb{i}"), 1)
        for f in os.listdir(d / f"eb{i}"):
            os.renames(d / f"eb{i}" / f, d / "engine_blocks" / f"{i}-{f}")
        assert main(["sync", "--chain", "hive_engine",
                     "--blocks", str(d / "engine_blocks"),
                     "--out", str(d / "out")]) == 0
    out = capsys.readouterr().out
    assert f"synced through block {fx.engine_blocks[-1]['blockNumber']}" in out

    store = str(d / "out" / "ops")
    assert len(ManifestStore(spark, store).files()) > 1
    assert main(["compact", "--ops", store]) == 0
    assert "compacted" in capsys.readouterr().out
    assert len(ManifestStore(spark, store).files()) == 1

    assert main(["scan", "hive_engine:*:tokens:transfer",
                 "--store", store]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    rows = [_json.loads(ln) for ln in lines if ln.startswith("{")]
    assert rows and all(
        r["contract"] == "tokens" and r["action"] == "transfer" for r in rows)

    # D2 engine reconciliation through the CLI: the freshly-synced store
    # must reconcile exactly against its own source blocks (exit 0)
    assert main(["verify", "--engine", "--store", store,
                 "--blocks", str(d / "engine_blocks")]) == 0
    assert "0 mismatched" in capsys.readouterr().out

    # E7: --chain auto resolves the prefix from a get_config response and
    # the resolved literal stamps every key
    cfg = d / "node_config.json"
    cfg.write_text(_json.dumps({"HIVE_CHAIN_ID": "beeab0de" + "0" * 56}))
    _write_batches(fx.blocks, "blocks", str(d / "blocks_main"), 1)
    assert main(["sync", "--chain", "auto", "--node-config", str(cfg),
                 "--blocks", str(d / "blocks_main"),
                 "--out", str(d / "out2")]) == 0
    view = P.ops_view(spark, str(d / "out2" / "ops"))
    assert view.where("chain = 'hive'").count() == view.count() > 0



def test_cli_resume_policy(spark, tmp_path_factory, capsys):
    """B10 wired end-to-end: a small gap resumes from the HWM ("Resuming
    from block N"); a gap beyond a TTL's worth of blocks starts fresh at
    the tip ("Starting new sync.") and skips the stale backlog."""
    from meeseeker_spark.__main__ import main

    fx = fixtures.generate(n_blocks=21, seed=7)
    d = tmp_path_factory.mktemp("cliresume")
    half = len(fx.blocks) // 2
    _write_batches(fx.blocks[:half], "blocks", str(d / "blocks"), 1)

    assert main(["sync", "--blocks", str(d / "blocks"),
                 "--out", str(d / "out"), "--resume-policy"]) == 0
    out1 = capsys.readouterr().out
    assert "Starting new sync." in out1  # no HWM yet
    hwm = fx.blocks[half - 1]["block_num"]

    # the rest of the chain arrives as NEW files (the checkpoint has
    # already consumed the old ones); small gap → resume from hwm+1
    import glob as _glob
    _write_batches(fx.blocks[half:], "blocks", str(d / "blocks2"), 1)
    for f in _glob.glob(str(d / "blocks2" / "*.parquet")):
        os.rename(f, str(d / "blocks" / ("late-" + os.path.basename(f))))
    assert main(["sync", "--blocks", str(d / "blocks"),
                 "--out", str(d / "out"), "--resume-policy"]) == 0
    out2 = capsys.readouterr().out
    assert f"Resuming from block {hwm + 1}" in out2
    # fresh-sync semantics: the first run started AT the tip (reference:
    # a new sync never backfills), so the store holds the tip block of the
    # first delivery plus everything after — nothing before it
    kept = {b["block_num"] for b in fx.blocks[half - 1:]}
    real_kept = [o for o in fx.ops_expected
                 if o["trx_id"] != "0" * 40 and o["block_num"] in kept]
    view = P.ops_view(spark, str(d / "out" / "ops"))
    assert view.count() == len(real_kept)
    # block set matches exactly (empty blocks yield no ops rows)
    assert {r["block_num"] for r in view.select("block_num").collect()} \
        == {o["block_num"] for o in real_kept}

    # fresh store, tiny ttl → the gap from block 1 to the tip exceeds
    # ttl/3s-worth of blocks → skip-ahead: only the tip block lands
    tip = fx.blocks[-1]["block_num"]
    assert main(["sync", "--blocks", str(d / "blocks"),
                 "--out", str(d / "out2"), "--resume-policy",
                 "--ttl", "3"]) == 0
    # ttl=3s → max_backfill = 1 block; HWM absent → fresh at tip: nothing
    # below the tip may land, and the store holds exactly the tip block's
    # ops (zero, if the tip block is empty — still a correct fresh sync)
    view2 = P.ops_view(spark, str(d / "out2" / "ops"))
    real_tip = [o for o in fx.ops_expected
                if o["trx_id"] != "0" * 40 and o["block_num"] == tip]
    assert view2.count() == len(real_tip)
    assert view2.where(f"block_num < {tip}").count() == 0


def test_cli_engine_resume_policy(spark, tmp_path_factory, capsys):
    """Sidechain B10 wired end-to-end: staleness in seconds → fresh sync at
    tip+1 ingests nothing from an old fixture; --ttl -1 with an HWM
    resumes from hwm+1 and picks up only newly delivered blocks."""
    from meeseeker_spark.__main__ import main

    fx = fixtures.generate(n_blocks=42, seed=19)
    d = tmp_path_factory.mktemp("cliengres")
    half = len(fx.engine_blocks) // 2
    _write_batches(fx.engine_blocks[:half], "engine_blocks",
                   str(d / "eng"), 1)

    # fixture timestamps are years old → default TTL declares the tip
    # stale → fresh sync at tip+1 → nothing from the backlog lands
    assert main(["sync", "--chain", "hive_engine", "--blocks", str(d / "eng"),
                 "--out", str(d / "out_stale"), "--resume-policy"]) == 0
    assert "Starting new sync." in capsys.readouterr().out
    v = P.ops_view(spark, str(d / "out_stale" / "ops"))
    assert v.count() == 0

    # build an HWM by syncing the first half without the policy (a fresh
    # finite-ttl engine sync starts at tip+1 — follower_job.rb:137 — so
    # the backlog must be ingested policy-free first, like a live daemon
    # that was already running)
    assert main(["sync", "--chain", "hive_engine", "--blocks", str(d / "eng"),
                 "--out", str(d / "out")]) == 0
    capsys.readouterr()
    hwm = fx.engine_blocks[half - 1]["blockNumber"]

    # second half arrives as a new file; a not-yet-stale tip (ttl larger
    # than the fixture's age) → the resume branch from hwm+1
    import glob as _glob
    _write_batches(fx.engine_blocks[half:], "engine_blocks",
                   str(d / "eng2"), 1)
    for f in _glob.glob(str(d / "eng2" / "*.parquet")):
        os.rename(f, str(d / "eng" / ("late-" + os.path.basename(f))))
    assert main(["sync", "--chain", "hive_engine", "--blocks", str(d / "eng"),
                 "--out", str(d / "out"), "--resume-policy",
                 "--ttl", "999999999"]) == 0
    assert f"Resuming from block {hwm + 1}" in capsys.readouterr().out
    v2 = P.ops_view(spark, str(d / "out" / "ops"))
    assert v2.count() == len(fx.engine_ops_expected)


def test_cli_mode_is_mainnet_only(tmp_path):
    """--mode irreversible on a sidechain sync is rejected up front (the
    sidechain follower polls latest blocks only)."""
    import pytest

    from meeseeker_spark.__main__ import main

    with pytest.raises(SystemExit):
        main(["sync", "--chain", "hive_engine", "--blocks", str(tmp_path),
              "--out", str(tmp_path / "out"), "--mode", "irreversible"])


def test_cli_prepare(tmp_path_factory, capsys):
    """`prepare` runs the corpus funnel end-to-end: report on stdout,
    corpus + packed parquet under --out."""
    import json

    from meeseeker_spark.__main__ import main
    from meeseeker_spark.session import get_spark

    d = tmp_path_factory.mktemp("prep")
    rc = main([
        "prepare", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(d / "out"), "--ngram", "3", "--max-overlap", "0.5",
        "--weights",
        '{"en":0.25,"de":0.1875,"fr":0.1875,"es":0.1875,"zh":0.1875}',
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["raw"] == 500
    assert report["mixed"] > 0
    spark = get_spark()
    corpus = spark.read.parquet(str(d / "out" / "corpus"))
    packed = spark.read.parquet(str(d / "out" / "packed"))
    assert corpus.count() == report["mixed"]
    assert packed.count() == corpus.count()


def test_cli_manifest_round_trip(spark, tmp_path_factory, capsys):
    """The CLI round trip on the sink's own manifest stores, with no
    materialized copy in between: sync (head, then irreversible into a
    second sink), compact in place, find/scan straight off the sink,
    expire --gc, then reset — which drops the HWM so the next sync is a
    fresh start."""
    from meeseeker_spark.__main__ import main
    from meeseeker_spark.manifest import ManifestStore

    fx = fixtures.generate(n_blocks=21, seed=17)
    d = tmp_path_factory.mktemp("climanifest")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 2)
    assert main(["sync", "--blocks", str(d / "blocks"),
                 "--out", str(d / "out")]) == 0
    out = capsys.readouterr().out
    assert f"synced through block {fx.blocks[-1]['block_num']}" in out
    store = str(d / "out" / "ops")
    view = P.ops_view(spark, store)
    expected_real = [o for o in fx.ops_expected if o["trx_id"] != "0" * 40]
    assert view.count() == len(expected_real)

    # irreversible mode holds the youngest --lib-lag blocks back
    assert main(["sync", "--blocks", str(d / "blocks"),
                 "--out", str(d / "out_irr"), "--mode", "irreversible",
                 "--lib-lag", "5"]) == 0
    tip = fx.blocks[-1]["block_num"]
    irr = P.last_block_num(spark, str(d / "out_irr" / "ops"))
    assert f"synced through block {irr}" in capsys.readouterr().out
    assert irr <= tip - 5
    pending = spark.read.parquet(str(d / "out_irr" / "ops_pending"))
    assert pending.agg({"block_num": "min"}).first()[0] > tip - 5

    assert main(["compact", "--ops", store]) == 0
    assert "compacted" in capsys.readouterr().out
    assert len(ManifestStore(spark, store).files()) == 1
    assert P.last_block_num(spark, store) == tip

    blk = str(expected_real[0]["block_num"])
    assert main(["find", "block", blk, "--store", store]) == 0
    assert f"hive:{blk}:" in capsys.readouterr().out
    assert main(["scan", "hive:*:vote", "--store", store]) == 0
    capsys.readouterr()

    assert main(["expire", "--store", store, "--gc"]) == 0
    assert "expired 0 rows" in capsys.readouterr().out
    assert P.ops_view(spark, store).count() == len(expected_real)

    assert main(["reset", "hive", "--store", store]) == 0
    assert main(["scan", "hive:*", "--store", store]) == 1   # emptied
    assert P.last_block_num(spark, store) is None


def test_cli_prepare_optin_flags(tmp_path_factory, capsys):
    """`prepare --source-cap/--ppl-keep/--logit-threshold` route to the
    funnel's opt-in screens and show up in the stage report."""
    import json

    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("prepopt")
    rc = main([
        "prepare", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(d / "out"), "--ngram", "3", "--max-overlap", "0.5",
        "--weights",
        '{"en":0.25,"de":0.1875,"fr":0.1875,"es":0.1875,"zh":0.1875}',
        "--source-cap", "15", "--ppl-keep", "head,middle",
        "--logit-threshold", "0.05",
        "--blocklist", "slow,dup", "--blocklist-max-frac", "0.05",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for stage in ("source_capped", "blocklist_kept", "ppl_kept",
                  "logit_kept"):
        assert stage in report
    assert report["blocklist_kept"] <= report["quality_filtered"]
    assert report["ppl_kept"] <= report["quality_filtered"]


def test_cli_prepare_line_df_and_curriculum(tmp_path_factory, capsys):
    """`prepare --line-df` inserts the boilerplate-line strip (stage in
    the report; the single-line fixture makes it a no-text-change pass)
    and `--shards --curriculum n_chars:desc` orders every shard's rows
    longest-first."""
    import glob
    import json

    import pyarrow.parquet as pq

    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("prepline")
    rc = main([
        "prepare", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(d / "out"), "--ngram", "3", "--max-overlap", "0.5",
        "--weights",
        '{"en":0.25,"de":0.1875,"fr":0.1875,"es":0.1875,"zh":0.1875}',
        "--line-df", "2", "--shards", "4",
        "--curriculum", "n_chars:desc",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "line_stripped" in report
    assert report["line_stripped"] == report["near_dedup"]
    for sdir in glob.glob(str(d / "out" / "shards" / "shard=*")):
        files = glob.glob(f"{sdir}/*.parquet")
        assert len(files) == 1
        chars = pq.read_table(files[0], columns=["n_chars"])[
            "n_chars"].to_pylist()
        assert chars == sorted(chars, reverse=True)


def test_cli_prepare_curriculum_bad_column(tmp_path_factory, capsys):
    import pytest as _pytest

    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("prepbadcol")
    with _pytest.raises(SystemExit):
        main([
            "prepare", "--docs",
            "/root/testdata/sf0.001/documents.parquet",
            "--out", str(d / "out"), "--ngram", "3",
            "--max-overlap", "0.5",
            "--weights", '{"en":1.0}',
            "--shards", "2", "--curriculum", "nope",
        ])


def test_cli_prepare_pack_mode_ffd(tmp_path_factory, capsys):
    """`prepare --pack-mode ffd`: packed parquet carries the no-split
    bin layout — every non-oversize bin within capacity, every corpus
    row assigned exactly once."""
    import json

    from meeseeker_spark.__main__ import main
    from meeseeker_spark.session import get_spark

    d = tmp_path_factory.mktemp("prepffd")
    rc = main([
        "prepare", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(d / "out"), "--ngram", "3", "--max-overlap", "0.5",
        "--weights",
        '{"en":0.25,"de":0.1875,"fr":0.1875,"es":0.1875,"zh":0.1875}',
        "--max-tokens", "64", "--pack-mode", "ffd",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    spark = get_spark()
    corpus = spark.read.parquet(str(d / "out" / "corpus"))
    packed = spark.read.parquet(str(d / "out" / "packed"))
    assert set(packed.columns) == {"doc_id", "copy", "n_tokens", "shard",
                                   "bin", "oversize"}
    assert packed.count() == corpus.count() == report["mixed"]
    fills = {}
    for r in packed.collect():
        if not r["oversize"]:
            fills[r["bin"]] = fills.get(r["bin"], 0) + r["n_tokens"]
        else:
            assert r["n_tokens"] > 64
    assert fills and all(v <= 64 for v in fills.values())


def test_cli_prepare_temperature(tmp_path_factory, capsys):
    """`prepare --temperature 3` replaces hand weights with mT5
    temperature sampling; the corpus materializes with up-sampled
    copies and no --weights needed."""
    import json

    from meeseeker_spark.__main__ import main
    from meeseeker_spark.session import get_spark

    d = tmp_path_factory.mktemp("preptemp")
    rc = main([
        "prepare", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(d / "out"), "--ngram", "3", "--max-overlap", "0.5",
        "--temperature", "3.0",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["mixed"] > 0
    spark = get_spark()
    corpus = spark.read.parquet(str(d / "out" / "corpus"))
    assert corpus.count() == report["mixed"]
    assert "copy" in corpus.columns


def test_cli_screen(spark, tmp_path_factory, capsys):
    """`screen` drains pending incoming files through the exact-index
    dedup screen and prints the per-batch report; a second invocation
    with a new file screens against the accumulated corpus (the
    operational loop: one CLI run per arrival cadence)."""
    import json
    import os
    import time as _time

    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("cli_screen")
    incoming = d / "incoming"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    txt = "a document about harbors and the cranes that unload them"

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    drop("b1", [(1, txt, "en", "web", len(txt))])
    rc = main(["screen", "--incoming", str(incoming),
               "--out", str(d / "out"), "--exact-index"])
    assert rc == 0
    rep1 = [json.loads(x) for x in
            capsys.readouterr().out.strip().splitlines()]
    assert [(r["batch_id"], r["n_admitted"], r["n_flagged"])
            for r in rep1] == [(0, 1, 0)]

    _time.sleep(1.1)
    drop("b2", [(9, txt, "en", "web", len(txt))])  # exact re-post
    rc = main(["screen", "--incoming", str(incoming),
               "--out", str(d / "out"), "--exact-index"])
    assert rc == 0
    rep2 = [json.loads(x) for x in
            capsys.readouterr().out.strip().splitlines()]
    assert [(r["batch_id"], r["n_admitted"], r["n_flagged"])
            for r in rep2] == [(0, 1, 0), (1, 0, 1)]
    flagged = {(r["new_id"], r["corpus_id"]) for r in
               spark.read.parquet(str(d / "out" / "flagged")).collect()}
    assert flagged == {(9, 1)}  # rejected by the prescreen


def test_cli_screen_empty_incoming(tmp_path_factory, capsys):
    """Regression (r11 review): a screen invocation that fires before
    any file arrived exits 0 with an empty report, not a traceback."""
    import os

    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("cli_screen_empty")
    os.makedirs(d / "incoming")
    rc = main(["screen", "--incoming", str(d / "incoming"),
               "--out", str(d / "out")])
    assert rc == 0
    out = capsys.readouterr()
    assert out.out.strip() == ""
    assert "no batches committed yet" in out.err


def test_cli_screen_full_option_surface(spark, tmp_path_factory, capsys):
    """VERDICT r12 item 4: the screen CLI's whole option surface in one
    operational loop — THREE invocations with --exact-index, an explicit
    --threshold, and --drift-baseline together.  Batch 1 admits steady
    docs; batch 2 exercises BOTH rejection paths (an exact re-post via
    the prescreen, a one-word-edit near-dup via the banded screen);
    batch 3 plants a full distribution shift — the report's kl column
    must flag it while the dedup decisions stay pinned (the shifted docs
    are fresh, so they all admit: drift detection and dedup are
    orthogonal, which is exactly what the composed surface grades)."""
    import json
    import os
    import time as _time

    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("cli_screen_full")
    incoming = d / "incoming"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    steady = ("the river carries silt from the high valley down past "
              "cedar groves where herons wade and fish in the shallows")
    steady2 = ("morning fog settles over the orchard while pickers move "
               "between apple rows filling wooden crates before the heat")
    steady3 = ("the trail climbs through pine forest toward a granite "
               "ridge where marmots whistle warnings across the scree")
    steady4 = ("willows lean over the oxbow pond where dragonflies "
               "hover and tadpoles stir the warm mud near the reeds")
    near2 = steady2.replace("wooden", "plastic")  # 1 word of 20: J≈0.7
    shifted = [
        "quarterly derivative settlements cleared via central "
        "counterparty netting reduced gross margin exposure basis",
        "collateralized tranche spreads widened as issuance calendars "
        "repriced duration risk across investment grade curves",
    ]

    # drift baseline: docs-shaped parquet over the steady vocabulary —
    # all three steady docs, so batches 0/1 sit near the baseline and
    # only the planted shift moves the KL
    base_rows = [(100 + i,
                  f"{[steady, steady2, steady3, steady4][i % 4]} "
                  f"variant {i}") for i in range(12)]
    spark.createDataFrame(base_rows, ["doc_id", "text"]) \
        .write.parquet(str(d / "baseline"))

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    args = ["screen", "--incoming", str(incoming), "--out", str(d / "out"),
            "--exact-index", "--threshold", "0.5",
            "--drift-baseline", str(d / "baseline")]

    drop("b1", [(1, steady, "en", "web", len(steady)),
                (2, steady2, "en", "web", len(steady2)),
                (3, steady3, "en", "web", len(steady3))])
    assert main(args) == 0
    capsys.readouterr()

    _time.sleep(1.1)
    drop("b2", [(11, steady, "en", "web", len(steady)),      # exact re-post
                (12, near2, "en", "web", len(near2)),        # near-dup of 2
                (13, steady4, "en", "web", len(steady4))])
    assert main(args) == 0
    capsys.readouterr()

    _time.sleep(1.1)
    drop("b3", [(21 + i, t, "en", "web", len(t))
                for i, t in enumerate(shifted)])
    assert main(args) == 0
    rep = [json.loads(x) for x in
           capsys.readouterr().out.strip().splitlines()]

    # dedup decisions pinned across the whole run
    assert [(r["batch_id"], r["n_admitted"], r["n_flagged"])
            for r in rep] == [(0, 3, 0), (1, 1, 2), (2, 2, 0)]
    flagged = {(r["new_id"], r["corpus_id"]): r["jaccard"] for r in
               spark.read.parquet(str(d / "out" / "flagged")).collect()}
    assert set(flagged) == {(11, 1), (12, 2)}
    assert flagged[(11, 1)] == 1.0           # prescreen evidence
    assert 0.5 <= flagged[(12, 2)] < 1.0     # banded-screen evidence

    # the drift monitor flags the shifted batch and ONLY it
    kl = {r["batch_id"]: r["kl_divergence"] for r in rep}
    assert all(kl[b] is not None for b in (0, 1, 2))
    assert kl[2] > 3 * max(kl[0], kl[1])


def test_cli_rebuild_mode_arg_contract(spark, tmp_path_factory, capsys):
    """ADVICE r12: (a) --rebuild-exact-index no longer requires the
    --incoming it never reads; (b) --bloom-m-bits/--bloom-k passed with
    it are FORWARDED (the documented CLI resize path — the rebuilt
    marker records the new sizing), not silently ignored; (c) plain
    screen mode still errors without --incoming."""
    import json
    import os

    import pytest

    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("cli_rebuild_args")
    incoming = d / "incoming"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    txt = "a single seed document about canal locks and towpath horses"
    tmp = d / "w"
    spark.createDataFrame([(1, txt, "en", "web", len(txt))],
                          cols).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, incoming / "b1.parquet")

    out = d / "out"
    assert main(["screen", "--incoming", str(incoming), "--out", str(out),
                 "--exact-index"]) == 0
    capsys.readouterr()
    marker = out / "_index_layout.json"
    assert json.load(open(marker))["bloom_m_bits"] == 8192

    # (a)+(b): no --incoming, sizing forwarded → marker resized
    assert main(["screen", "--out", str(out), "--rebuild-exact-index",
                 "--bloom-m-bits", "4096", "--bloom-k", "3"]) == 0
    assert "rebuilt exact index: 1 fingerprints" in capsys.readouterr().err
    rec = json.load(open(marker))
    assert (rec["bloom_m_bits"], rec["bloom_k"]) == (4096, 3)

    # (c): screen mode proper still demands --incoming (argparse exit 2)
    with pytest.raises(SystemExit):
        main(["screen", "--out", str(out)])


def test_cli_screen_retention_rebuild_drill(spark, tmp_path_factory,
                                            capsys):
    """VERDICT r12 item 7: the multi-session retention+rebuild drill,
    entirely through the CLI.  Admit two docs across two invocations;
    retention expires the first doc's corpus batch out-of-band; `screen
    --rebuild-exact-index` repairs the fpx/bloom index; a third
    invocation re-posts BOTH texts — the expired one must be ADMITTED
    (a stale bitmap would over-flag it against a doc that no longer
    exists) while the surviving one is still rejected exact."""
    import json
    import os
    import shutil
    import time as _time

    from meeseeker_spark.__main__ import main

    d = tmp_path_factory.mktemp("cli_screen_drill")
    incoming = d / "incoming"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    tex_a = ("old crawl snapshot text about lighthouse keepers and the "
             "long winters they spent tending the lamp alone")
    tex_b = ("current snapshot text describing ferry schedules between "
             "the outer islands during the summer season")

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    args = ["screen", "--incoming", str(incoming), "--out", str(d / "out"),
            "--exact-index"]

    drop("b1", [(1, tex_a, "en", "web", len(tex_a))])
    assert main(args) == 0
    _time.sleep(1.1)
    drop("b2", [(2, tex_b, "en", "web", len(tex_b))])
    assert main(args) == 0
    capsys.readouterr()

    # retention expires batch 0 (doc 1) from the corpus store; the
    # bloom/fpx index cannot unlearn it until the maintenance rebuild
    shutil.rmtree(d / "out" / "corpus" / "batch_id=0")
    assert main(args + ["--rebuild-exact-index"]) == 0
    err = capsys.readouterr().err
    assert "rebuilt exact index: 1 fingerprints" in err
    # maintenance mode drains nothing and the stale dirs are gone
    assert not (d / "out" / "fpx" / "batch_id=0").exists()
    assert not (d / "out" / "bloom" / "batch_id=0").exists()

    _time.sleep(1.1)
    drop("b3", [(31, tex_a, "en", "web", len(tex_a)),   # expired → fresh
                (32, tex_b, "en", "web", len(tex_b))])  # survives → exact
    assert main(args) == 0
    rep = [json.loads(x) for x in
           capsys.readouterr().out.strip().splitlines()]
    assert [(r["batch_id"], r["n_admitted"], r["n_flagged"])
            for r in rep] == [(1, 1, 0), (2, 1, 1)]
    flagged = {(r["new_id"], r["corpus_id"], r["jaccard"]) for r in
               spark.read.parquet(str(d / "out" / "flagged")).collect()}
    assert flagged == {(32, 2, 1.0)}
    admitted = {(r["batch_id"], r["doc_id"]) for r in
                spark.read.parquet(str(d / "out" / "corpus")).collect()}
    assert admitted == {(1, 2), (2, 31)}


def test_cli_compact_bounds_the_channel_sink(spark, tmp_path_factory,
                                             capsys):
    """r15 durability review: the channels store had no compaction at
    all — the channel sink was the one per-trigger surface `compact`
    never bounded, growing files and the recorded batch-id list with
    stream age.  `compact` now folds the channels sibling by default."""
    from meeseeker_spark.__main__ import main
    from meeseeker_spark.manifest import ManifestStore, is_manifest_store
    from meeseeker_spark.streaming import pipeline as P

    fx = fixtures.generate(n_blocks=42, seed=13)

    # the channels manifest compacts in place — fewer committed files,
    # batch ids pruned to the tail, rows intact
    d2 = tmp_path_factory.mktemp("clichancompact_m")
    _write_batches(fx.blocks, "blocks", str(d2 / "blocks"), 3)
    assert main(["sync", "--blocks", str(d2 / "blocks"),
                 "--out", str(d2 / "out")]) == 0
    capsys.readouterr()
    chan2 = str(d2 / "out" / "channels")
    assert is_manifest_store(chan2)
    ms = ManifestStore(spark, chan2)
    pre_files = len(ms.files())
    pre_rows = ms.df().count()
    assert pre_files > 1
    assert main(["compact", "--ops", str(d2 / "out" / "ops")]) == 0
    out2 = capsys.readouterr().out
    assert "channel manifest" in out2
    assert len(ms.files()) < pre_files
    assert ms.df().count() == pre_rows
    ids = ms.committed_batch_ids()
    assert ids and min(ids) >= max(ids) - 1   # pruned to the tail
