"""Structured Streaming ingestion: incremental flatten, checkpoint resume,
late virtual ops, publish-once dedup, HWM, resume policy."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from meeseeker_spark import fixtures
from meeseeker_spark.flatten import flatten_blocks
from meeseeker_spark.resume import resolve_start_block
from meeseeker_spark.schemas import BLOCKS, VIRTUAL_OPS
from meeseeker_spark.streaming import pipeline as P


@pytest.fixture(scope="module")
def fx():
    return fixtures.generate(n_blocks=63, seed=5)


def _write_batches(rows, schema, out_dir, n_files):
    """Split fixture rows into n parquet files (micro-batch boundaries)."""
    os.makedirs(out_dir, exist_ok=True)
    chunk = max(1, len(rows) // n_files)
    for i in range(0, len(rows), chunk):
        t = pa.Table.from_pylist(rows[i:i + chunk],
                                 schema=fixtures._ARROW_SCHEMAS[schema])
        pq.write_table(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def test_stream_matches_batch(spark, fx, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream1")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 4)
    _write_batches(fx.virtual_ops, "virtual_ops", str(d / "vops"), 3)

    ops = P.streaming_ops(
        P.read_block_stream(spark, str(d / "blocks"), max_files_per_trigger=1),
        P.read_vop_stream(spark, str(d / "vops"), max_files_per_trigger=1),
    )
    q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                       str(d / "ckpt"))
    q.awaitTermination(120)

    got = P.ops_view(spark, str(d / "ops"))
    assert sorted(r["key"] for r in got.collect()) == sorted(
        o["key"] for o in fx.ops_expected)
    # one manifest commit per micro-batch; multiple micro-batches happened
    from meeseeker_spark.manifest import ManifestStore
    v = ManifestStore(spark, str(d / "ops")).current_version()
    assert v and v > 1
    # channel fan-out landed
    ch = P.channel_events_view(spark, str(d / "channels"))
    assert ch.count() > 0
    # HWM matches the last fixture block
    assert P.last_block_num(spark, str(d / "ops")) == fx.blocks[-1]["block_num"]


def test_checkpoint_resume_no_duplicates(spark, fx, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream2")
    half = len(fx.blocks) // 2
    _write_batches(fx.blocks[:half], "blocks", str(d / "blocks"), 2)

    def run():
        ops = P.streaming_ops(
            P.read_block_stream(spark, str(d / "blocks")), None)
        q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                           str(d / "ckpt"))
        q.awaitTermination(120)

    run()
    n1 = P.ops_view(spark, str(d / "ops")).count()

    # late delivery: second half of the chain arrives, same checkpoint
    _write_batches(fx.blocks[half:], "blocks", str(d / "blocks2"), 2)
    for f in glob.glob(str(d / "blocks2" / "*.parquet")):
        os.rename(f, str(d / "blocks" / ("late-" + os.path.basename(f))))
    run()
    got = P.ops_view(spark, str(d / "ops"))
    n2 = got.count()

    expected_real = [o for o in fx.ops_expected
                     if o["trx_id"] != "0" * 40]
    assert n2 == len(expected_real)
    assert n2 > n1
    # resume processed only the new files — no key appears twice in the
    # committed store (the replayed-batch short-circuit held)
    from meeseeker_spark.manifest import ManifestStore
    raw = ManifestStore(spark, str(d / "ops")).df()
    assert raw.count() == raw.dropDuplicates(["key"]).count()


def test_late_vops_join_their_block(spark, fx, tmp_path_factory):
    # vops arrive AFTER their block's batch (the reference's retry lag).
    # The vop source is wired from the start (a source can't be added to an
    # existing checkpoint) but its directory starts empty — the late data
    # must still land with correct keys/ordinals on the next run.
    d = tmp_path_factory.mktemp("stream3")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 1)
    os.makedirs(str(d / "vops"), exist_ok=True)

    def run():
        ops = P.streaming_ops(
            P.read_block_stream(spark, str(d / "blocks")),
            P.read_vop_stream(spark, str(d / "vops")))
        q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                           str(d / "ckpt"))
        q.awaitTermination(120)

    run()
    _write_batches(fx.virtual_ops, "virtual_ops", str(d / "vops"), 1)
    run()

    got = P.ops_view(spark, str(d / "ops"))
    assert sorted(r["key"] for r in got.collect()) == sorted(
        o["key"] for o in fx.ops_expected)


def test_schedule_publish_once(spark, fx, tmp_path_factory):
    # feed each schedule 3× across separate files → exactly one publish per
    # shuffle boundary survives (stateful dropDuplicates)
    d = tmp_path_factory.mktemp("sched")
    tripled = [s for s in fx.witness_schedules for _ in range(3)]
    _write_batches(tripled, "witness_schedules", str(d / "in"), 3)
    q = P.start_schedule_publisher(
        P.read_schedule_stream(spark, str(d / "in")),
        str(d / "out"), str(d / "ckpt"))
    q.awaitTermination(120)
    from meeseeker_spark.manifest import ManifestStore
    rows = ManifestStore(spark, str(d / "out")).df().collect()
    assert len(rows) == len(fx.witness_schedules)
    assert (sorted(r["next_shuffle_block_num"] for r in rows)
            == sorted(s["next_shuffle_block_num"] for s in fx.witness_schedules))


def test_resume_policy():
    # B10 unit cases mirroring block_follower_job.rb:106-139
    d = resolve_start_block(None, 1000)
    assert d.fresh_sync and d.start_block == 1000
    d = resolve_start_block(990, 1000)
    assert not d.fresh_sync and d.start_block == 991
    # threshold is expire_keys/3 SECONDS compared against a gap in BLOCKS
    # (block_follower_job.rb:129-132): 86400/3 = 28,800 blocks.  A 10k- or
    # 28.8k-block gap resumes; only beyond 28,800 does it skip ahead.
    d = resolve_start_block(0, 20_000)
    assert not d.fresh_sync and d.start_block == 1
    d = resolve_start_block(0, 28_801)          # gap exactly at threshold
    assert not d.fresh_sync and d.start_block == 1
    d = resolve_start_block(0, 28_802)          # one past → new sync
    assert d.fresh_sync and d.start_block == 28_802
    # ttl disabled: resume from hwm+1 even when far behind...
    d = resolve_start_block(0, 20_000, ttl_s=-1)
    assert d.start_block == 20_000  # ...but never before the tip
    d = resolve_start_block(19_999, 10_000, ttl_s=-1)
    assert d.start_block == 20_000  # hwm ahead of a lagging tip wins


def test_stream_mode_tip():
    # meeseeker.rb:95 / block_follower_job.rb:113-123: head mode reads the
    # chain head, irreversible waits for finality, anything else aborts
    from meeseeker_spark.resume import resolve_tip
    assert resolve_tip(1000, 985, "head") == 1000
    assert resolve_tip(1000, 985, "irreversible") == 985
    with pytest.raises(ValueError, match="Unknown stream mode"):
        resolve_tip(1000, 985, "laggy")


def test_irreversible_mode_gates_and_folds(spark, fx, tmp_path_factory):
    """Stream mode ``irreversible`` (read-committed,
    block_follower_job.rb:113-123): blocks younger than head − lib_lag
    wait in the pending dir — ops AND channels — and fold into the store
    once a later delivery moves the head past them."""
    d = tmp_path_factory.mktemp("irrev")
    half = len(fx.blocks) // 2
    _write_batches(fx.blocks[:half], "blocks", str(d / "blocks"), 2)
    LAG = 5

    def run():
        ops = P.streaming_ops(
            P.read_block_stream(spark, str(d / "blocks")), None)
        q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                           str(d / "ckpt"), mode="irreversible", lib_lag=LAG)
        q.awaitTermination(120)

    run()
    head1 = fx.blocks[half - 1]["block_num"]
    v1 = P.ops_view(spark, str(d / "ops"))
    assert v1.agg({"block_num": "max"}).first()[0] == head1 - LAG
    # the reversible tail is staged, not lost — and the channels publish
    # nothing the store hasn't committed
    pend = spark.read.parquet(str(d / "ops_pending"))
    assert (sorted(r["block_num"] for r in
                   pend.select("block_num").distinct().collect())
            == list(range(head1 - LAG + 1, head1 + 1)))
    ch1 = P.channel_events_view(spark, str(d / "channels"))
    assert ch1.agg({"block_num": "max"}).first()[0] == head1 - LAG

    # the head moves past the staged rows → they fold into the store
    _write_batches(fx.blocks[half:], "blocks", str(d / "blocks2"), 1)
    for f in glob.glob(str(d / "blocks2" / "*.parquet")):
        os.rename(f, str(d / "blocks" / ("late-" + os.path.basename(f))))
    run()
    head2 = fx.blocks[-1]["block_num"]
    v2 = P.ops_view(spark, str(d / "ops"))
    want = sorted(o["key"] for o in fx.ops_expected
                  if o["block_num"] <= head2 - LAG
                  and o["trx_id"] != "0" * 40)   # no vop stream in this test
    assert sorted(r["key"] for r in v2.collect()) == want
    assert P.last_block_num(spark, str(d / "ops")) == head2 - LAG


def test_irreversible_mode_unknown_rejected(spark, fx, tmp_path_factory):
    d = tmp_path_factory.mktemp("irrev_bad")
    _write_batches(fx.blocks[:3], "blocks", str(d / "blocks"), 1)
    ops = P.streaming_ops(
        P.read_block_stream(spark, str(d / "blocks")), None)
    with pytest.raises(ValueError, match="Unknown stream mode"):
        P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                       str(d / "ckpt"), mode="laggy")


def test_pending_swap_recovery(tmp_path):
    """An interrupted pending swap self-heals: ``.old`` without the live
    dir is restored; a stale ``.tmp`` is discarded."""
    base = str(tmp_path / "pending")
    os.makedirs(base + ".old")
    open(os.path.join(base + ".old", "f.parquet"), "w").close()
    os.makedirs(base + ".tmp")
    P._recover_pending(base)
    assert os.path.isdir(base)           # restored from .old
    assert not os.path.exists(base + ".old")
    assert not os.path.exists(base + ".tmp")

    # .old alongside a live dir = swap finished, only the delete was lost
    os.makedirs(base + ".old")
    P._recover_pending(base)
    assert os.path.isdir(base) and not os.path.exists(base + ".old")


def test_irreversible_replay_after_commit_keeps_folded_rows(
        spark, fx, tmp_path_factory):
    """Regression (r13 review): a batch replayed AFTER its pending-dir
    commit but BEFORE the checkpoint commit (the standard at-least-once
    window) used to recompute its split against the already-swapped
    pending dir — the rows folded in from the old pending set vanished
    from the recomputed final_df.  The commit now stamps the pending
    dir with its producing batch id and a replay seeing its own stamp
    skips the whole trigger (the output appends would short-circuit on
    their recorded batch ids anyway; the stamp also keeps the pending
    swap from running twice).

    The replay is authentic: after the folding run completes, the
    checkpoint's commits/N marker for the last batch is deleted —
    Structured Streaming then replays exactly that batch from its
    offsets log on restart."""
    from meeseeker_spark.manifest import ManifestStore

    d = tmp_path_factory.mktemp("irrev_replay")
    half = len(fx.blocks) // 2
    _write_batches(fx.blocks[:half], "blocks", str(d / "blocks"), 1)
    LAG = 5

    def run():
        ops = P.streaming_ops(
            P.read_block_stream(spark, str(d / "blocks")), None)
        q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                           str(d / "ckpt"), mode="irreversible",
                           lib_lag=LAG)
        q.awaitTermination(120)

    run()                                    # batch 0: tail rows pend
    _write_batches(fx.blocks[half:], "blocks", str(d / "blocks2"), 1)
    for f in glob.glob(str(d / "blocks2" / "*.parquet")):
        os.rename(f, str(d / "blocks" / ("late-" + os.path.basename(f))))
    run()                                    # batch 1: pending rows fold in

    def snapshot():
        """All three sinks: ops keys, channel rows, _meta HWM rows —
        the replay symmetry claim covers every output of the trigger,
        not just the ops store (VERDICT r13 item 1)."""
        ops = sorted(
            r["key"] for r in P.ops_view(spark, str(d / "ops")).collect())
        chans = sorted(
            tuple(r) for r in
            P.channel_events_view(spark, str(d / "channels")).collect())
        meta = sorted(
            tuple(r) for r in
            ManifestStore(spark, str(d / "ops") + "_meta").df().collect())
        return ops, chans, meta

    before = snapshot()
    assert before[0] and before[1] and before[2]   # every sink populated
    stamp = d / "ops_pending" / "_produced_by_batch"
    stamp_lines = stamp.read_text().splitlines()
    assert stamp_lines[0] == "1"
    # line 2 is the stream identity (the checkpoint's query id) — the
    # r14 stale-pending guard input
    import json as _json
    with open(d / "ckpt" / "metadata") as f:
        assert stamp_lines[1] == _json.load(f)["id"]

    # crash window: the pending swap committed, the checkpoint didn't
    os.remove(d / "ckpt" / "commits" / "1")
    crc = d / "ckpt" / "commits" / ".1.crc"   # hadoop checksum sidecar
    if crc.exists():
        os.remove(crc)
    run()                                    # Spark replays batch 1
    # the replay skips the WHOLE trigger exactly once: ops, channels and
    # _meta are all byte-identical — nothing lost, nothing doubled
    assert snapshot() == before


def test_irreversible_replay_before_commit_all_sinks_converge(
        spark, fx, tmp_path_factory, monkeypatch):
    """The other replay window (VERDICT r13 item 1): a crash AFTER every
    output landed but BEFORE the pending-dir commit — Structured
    Streaming replays the batch against the UNCHANGED pending dir, so
    the recomputed split is identical and every output append
    short-circuits on its recorded batch id.  Pin it end-to-end by
    comparing ALL THREE sinks (ops keys, channel rows, _meta rows) of a
    crashed-then-recovered run against a crash-free control run.

    The crash is authentic: the sink's ``commit()`` raises on the
    designated batch, failing the trigger after the ops/channel/_meta
    writes completed, exactly the pre-commit half of the at-least-once
    window."""
    from meeseeker_spark.manifest import ManifestStore

    d = tmp_path_factory.mktemp("irrev_precommit")
    half = len(fx.blocks) // 2
    LAG = 5

    def scenario(root, crash: bool):
        os.makedirs(root / "blocks")
        _write_batches(fx.blocks[:half], "blocks", str(root / "b1"), 1)
        for f in glob.glob(str(root / "b1" / "*.parquet")):
            os.rename(f, str(root / "blocks" / os.path.basename(f)))

        def run():
            ops = P.streaming_ops(
                P.read_block_stream(spark, str(root / "blocks")), None)
            q = P.start_ingest(ops, str(root / "ops"),
                               str(root / "channels"), str(root / "ckpt"),
                               mode="irreversible", lib_lag=LAG)
            q.awaitTermination(120)

        run()                            # batch 0: tail rows pend
        _write_batches(fx.blocks[half:], "blocks", str(root / "b2"), 1)
        for f in glob.glob(str(root / "b2" / "*.parquet")):
            os.rename(f, str(root / "blocks" /
                             ("late-" + os.path.basename(f))))
        if crash:
            real_gate = P._irreversible_gate

            def exploding_gate(batch_df, pending, lib_lag, batch_id=None,
                               stream_id=None):
                final_df, commit = real_gate(batch_df, pending, lib_lag,
                                             batch_id, stream_id=stream_id)

                def exploding_commit():
                    raise RuntimeError("injected crash before commit")
                return final_df, exploding_commit

            monkeypatch.setattr(P, "_irreversible_gate", exploding_gate)
            with pytest.raises(Exception, match="injected crash"):
                run()                    # outputs landed, commit lost
            monkeypatch.setattr(P, "_irreversible_gate", real_gate)
        run()                            # (re)plays batch 1 cleanly
        ops = sorted(r["key"] for r in
                     P.ops_view(spark, str(root / "ops")).collect())
        chans = sorted(tuple(r) for r in P.channel_events_view(
            spark, str(root / "channels")).collect())
        meta = sorted(tuple(r) for r in ManifestStore(
            spark, str(root / "ops") + "_meta").df().collect())
        return ops, chans, meta

    control = scenario(d / "control", crash=False)
    crashed = scenario(d / "crashed", crash=True)
    assert control[0] and control[1] and control[2]
    assert crashed == control      # all three sinks converge byte-identical


def test_stale_pending_fresh_checkpoint_raises(spark, fx,
                                               tmp_path_factory):
    """Regression (VERDICT r13 item 2 / ADVICE r13): a NEW stream (fresh
    checkpoint — batch ids restart at 0) pointed at a store with a
    surviving ``_pending`` dir used to trust the stale stamp: batch 0's
    id can EQUAL the stamp's, so the replay detector silently skipped a
    REAL first trigger (silent data drop).  The stamp now carries the
    producing stream's identity and the gate fails loudly on a
    mismatch instead."""
    d = tmp_path_factory.mktemp("stale_pending")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 1)

    def run(ckpt):
        ops = P.streaming_ops(
            P.read_block_stream(spark, str(d / "blocks")), None)
        q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                           str(ckpt), mode="irreversible", lib_lag=5)
        q.awaitTermination(120)

    run(d / "ckpt1")                     # leaves a stamped _pending
    stamp = (d / "ops_pending" / "_produced_by_batch").read_text()
    assert len(stamp.splitlines()) == 2  # batch id + stream id

    # the misuse: same store, FRESH checkpoint → its batch 0 matches the
    # stale stamp's batch 0; without the stream-id line this silently
    # dropped the trigger — now it must refuse loudly
    with pytest.raises(Exception, match="stale pending"):
        run(d / "ckpt2")

    # recovery path named in the error: drop the stale _pending
    import shutil
    shutil.rmtree(d / "ops_pending")
    run(d / "ckpt3")                     # fresh stream proceeds


def test_stale_pending_legacy_stamp_ahead_raises(spark, fx,
                                                 tmp_path_factory):
    """Pre-upgrade stamps carry only the batch id; for those the only
    stale signal is a stamp AHEAD of the current batch (impossible
    within one checkpoint's monotone sequence).  The gate must raise,
    not fold or skip."""
    d = tmp_path_factory.mktemp("stale_pending_legacy")
    _write_batches(fx.blocks[:6], "blocks", str(d / "blocks"), 1)
    os.makedirs(d / "ops_pending")
    # a legacy single-line stamp from a long-lived earlier stream
    (d / "ops_pending" / "_produced_by_batch").write_text("7")
    df = spark.read.schema(BLOCKS).parquet(str(d / "blocks"))
    with pytest.raises(RuntimeError, match="ahead of this stream"):
        P._irreversible_gate(flatten_blocks(df), str(d / "ops_pending"),
                             5, batch_id=0, stream_id="fresh-stream")


def test_stale_pending_legacy_stamp_equal_batch_raises(spark, fx,
                                                       tmp_path_factory):
    """r14 review: the equal-batch legacy case slipped past BOTH
    staleness guards — a pre-upgrade single-line stamp reading batch 0
    against a fresh stream's batch 0 took the silent-skip branch, the
    exact r13 silent-drop scenario.  With a stream identity in hand and
    none on the stamp, the gate cannot tell a genuine pre-upgrade
    replay from a stale dir: it must stop loudly with both recovery
    paths (append the id for a genuine resume / reset for a stale
    dir), never guess."""
    d = tmp_path_factory.mktemp("stale_pending_legacy_eq")
    _write_batches(fx.blocks[:6], "blocks", str(d / "blocks"), 1)
    os.makedirs(d / "ops_pending")
    (d / "ops_pending" / "_produced_by_batch").write_text("0")
    df = spark.read.schema(BLOCKS).parquet(str(d / "blocks"))
    with pytest.raises(RuntimeError, match="pre-upgrade stamp"):
        P._irreversible_gate(flatten_blocks(df), str(d / "ops_pending"),
                             5, batch_id=0, stream_id="fresh-stream")
    # with NO identity available (direct non-checkpointed caller) the
    # pre-upgrade semantics are preserved: equal batch = its own replay
    final_df, commit = P._irreversible_gate(
        flatten_blocks(df), str(d / "ops_pending"), 5, batch_id=0)
    assert final_df is None and commit is None


def test_corrupt_pending_stamp_raises_with_recovery(spark, fx,
                                                    tmp_path_factory):
    """r14 review: an empty/truncated stamp (power loss before the
    page cache hit disk) raised a bare IndexError crash-loop; it now
    stops with the stale-pending recovery menu.  (New stamps are
    fsynced before the swap, so this is strictly a legacy-dir path.)"""
    d = tmp_path_factory.mktemp("corrupt_stamp")
    _write_batches(fx.blocks[:6], "blocks", str(d / "blocks"), 1)
    os.makedirs(d / "ops_pending")
    (d / "ops_pending" / "_produced_by_batch").write_text("")
    df = spark.read.schema(BLOCKS).parquet(str(d / "blocks"))
    with pytest.raises(RuntimeError, match="unreadable pending-dir"):
        P._irreversible_gate(flatten_blocks(df), str(d / "ops_pending"),
                             5, batch_id=0, stream_id="s")


def test_checkpoint_stream_id_uri_handling(tmp_path, capsys):
    """r14 review + VERDICT r14 item 2: Spark accepts the checkpoint as
    a Hadoop path, so a ``file:`` URI must still resolve the identity
    (local fast path, no JVM); a remote scheme WITHOUT a session is the
    only remaining degradation, and it is LOUD (stderr note)."""
    import json as _json
    ck = tmp_path / "ckpt"
    os.makedirs(ck)
    (ck / "metadata").write_text(_json.dumps({"id": "q-123"}))
    assert P._checkpoint_stream_id(str(ck)) == "q-123"
    assert P._checkpoint_stream_id("file://" + str(ck)) == "q-123"
    assert P._checkpoint_stream_id(str(tmp_path / "missing")) is None
    assert P._checkpoint_stream_id("s3a://bucket/ckpt") is None
    assert "degraded" in capsys.readouterr().err


def test_checkpoint_stream_id_hadoop_fs(spark, tmp_path, capsys,
                                        monkeypatch):
    """VERDICT r14 item 2: a remote-scheme checkpoint reads its
    ``metadata`` through the JVM Hadoop FileSystem client, so the
    stale-pending stream-identity guard engages on every scheme Spark
    itself can checkpoint to.  The JVM read path is proven end-to-end
    with a real Hadoop FileSystem open on a ``file:`` URI (the one
    remote-capable client available in this container); the scheme
    routing is proven by stubbing the read for an ``s3a:`` URI —
    together the stderr degradation message is unreachable for any
    Spark-checkpointable scheme."""
    import json as _json
    ck = tmp_path / "ckpt"
    os.makedirs(ck)
    (ck / "metadata").write_text(_json.dumps({"id": "q-777"}))

    # the JVM Hadoop client itself, end-to-end (LocalFileSystem)
    assert _json.loads(P._hadoop_read_utf8(
        spark, "file://" + str(ck) + "/metadata"))["id"] == "q-777"
    # a missing file surfaces as a JVM error → mapped to None upstream
    import py4j.protocol
    with pytest.raises(py4j.protocol.Py4JJavaError):
        P._hadoop_read_utf8(spark, "file://" + str(tmp_path) + "/nope")

    # scheme routing: a non-local URI goes through the Hadoop read
    # (stubbed here — no remote FS in the container) and resolves the
    # identity instead of degrading
    seen = []

    def fake_read(s, uri):
        seen.append(uri)
        return _json.dumps({"id": "q-remote"})

    monkeypatch.setattr(P, "_hadoop_read_utf8", fake_read)
    assert P._checkpoint_stream_id("s3a://bucket/ckpt", spark) \
        == "q-remote"
    assert seen == ["s3a://bucket/ckpt/metadata"]

    # missing-on-remote (first start, JVM FileNotFound): None, silently
    # — same contract as the local fast path
    class _FakeJExc:
        class _Cls:
            @staticmethod
            def getName():
                return "java.io.FileNotFoundException"

        def getClass(self):
            return self._Cls

    class _NotFound(Exception):
        java_exception = _FakeJExc()

    monkeypatch.setattr(
        P, "_hadoop_read_utf8",
        lambda s, uri: (_ for _ in ()).throw(_NotFound()))
    assert P._checkpoint_stream_id("s3a://bucket/ckpt", spark) is None
    assert "degraded" not in capsys.readouterr().err

    # any OTHER remote failure (connection, auth, ...) degrades LOUDLY
    monkeypatch.setattr(
        P, "_hadoop_read_utf8",
        lambda s, uri: (_ for _ in ()).throw(RuntimeError("conn refused")))
    assert P._checkpoint_stream_id("s3a://bucket/ckpt", spark) is None
    assert "degraded" in capsys.readouterr().err


def test_reset_drops_hwm_and_pending(spark, fx, tmp_path_factory):
    """Regression (r13 review): the reference's reset deletes
    ``{chain}:*`` — which INCLUDES ``{chain}:meeseeker:last_block_num``
    (Rakefile:101-126; block_follower_job.rb:78) — so the next sync
    makes a fresh-start decision.  Our reset used to leave the
    ``_meta`` HWM sibling (resolve_stream_start then resumed past the
    deleted range, which was never re-ingested) and the ``_pending``
    staging dir (whose pre-reset rows would fold into the fresh sync).
    Both must go."""
    d = tmp_path_factory.mktemp("reset_sync_state")
    _write_batches(fx.blocks[: len(fx.blocks) // 2], "blocks",
                   str(d / "blocks"), 1)
    ops = P.streaming_ops(
        P.read_block_stream(spark, str(d / "blocks")), None)
    q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                       str(d / "ckpt"), mode="irreversible", lib_lag=5)
    q.awaitTermination(120)
    assert P.last_block_num(spark, str(d / "ops")) is not None
    assert (d / "ops_pending").is_dir()

    from meeseeker_spark.query import OpsStore
    OpsStore(spark, str(d / "ops")).reset("all")

    assert not (d / "ops_meta").exists()
    assert not (d / "ops_pending").exists()
    assert P.last_block_num(spark, str(d / "ops")) is None
    # the B10 policy now sees no HWM → fresh sync, like the reference's
    # redis.get of the dropped key
    decision = P.resolve_stream_start(spark, str(d / "blocks"),
                                      str(d / "ops"))
    assert decision.fresh_sync


def _run_ttl_scenario(spark, d, op_fn, ttl_seconds=300):
    """Shared S7 TTL scenario: 3 micro-batches, a re-SET that refreshes an
    expiry, two watermark jumps.  Returns the collected output rows."""
    import datetime as dt

    src, out = str(d / "src"), str(d / "out")
    os.makedirs(src)
    t0 = dt.datetime(2020, 1, 1, 0, 0, 0)

    def write_file(name, rows, mtime):
        # FileStreamSource orders batches by mtime, not name — pin it
        t = pa.Table.from_pylist(
            rows, schema=pa.schema([("key", pa.string()),
                                    ("timestamp", pa.timestamp("us"))]))
        path = os.path.join(src, name)
        pq.write_table(t, path)
        os.utime(path, (mtime, mtime))

    # batch 1: two keys at t0 — watermark still unset
    write_file("f1.parquet", mtime=1_000_000_000, rows=[
        {"key": "hive:1:a:0:vote", "timestamp": t0},
        {"key": "hive:1:b:0:comment", "timestamp": t0},
    ])
    # batch 2: key b re-observed at +400 s (inside its refreshed ttl),
    # plus a fresh key far in the future that drags the watermark past
    # a's expiry (t0 + 300 s)
    write_file("f2.parquet", mtime=1_000_000_100, rows=[
        {"key": "hive:1:b:0:comment", "timestamp": t0 + dt.timedelta(seconds=400)},
        {"key": "hive:9:z:0:vote", "timestamp": t0 + dt.timedelta(seconds=2000)},
    ])
    # batch 3: advance the watermark again so b (expires at 400+300) and z
    # (expires at 2000+300) both time out
    write_file("f3.parquet", mtime=1_000_000_200, rows=[
        {"key": "hive:99:w:0:vote", "timestamp": t0 + dt.timedelta(seconds=9000)},
    ])

    stream = (spark.readStream.schema("key string, timestamp timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    ttl = op_fn(stream, ttl_seconds=ttl_seconds, lateness="0 seconds")

    def _sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (ttl.writeStream.outputMode("update").foreachBatch(_sink)
         .option("checkpointLocation", str(d / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.parquet(out).collect()


def _check_ttl_rows(rows):
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1, 0, 0, 0)
    expired = sorted(r["key"] for r in rows if r["status"] == "expired")
    assert expired == ["hive:1:a:0:vote", "hive:1:b:0:comment",
                       "hive:9:z:0:vote"]
    # b was re-observed → expired from its REFRESHED last_seen, not t0
    b_exp = [r for r in rows
             if r["key"] == "hive:1:b:0:comment" and r["status"] == "expired"]
    t0_ms = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert b_exp[0]["last_seen_ms"] == t0_ms + 400_000
    # every key emitted live at least once; expired at most once
    from collections import Counter
    c = Counter((r["key"], r["status"]) for r in rows)
    assert all(v == 1 for (k, s), v in c.items() if s == "expired")


def test_ttl_keyed_state_expires(spark, tmp_path_factory):
    """S7 TTL in pure streaming state: keys expire exactly once when the
    watermark passes last_seen + ttl; re-SET pushes expiry forward."""
    from meeseeker_spark.streaming.state import ttl_keyed_state

    rows = _run_ttl_scenario(spark, tmp_path_factory.mktemp("ttlstate"),
                             ttl_keyed_state)
    _check_ttl_rows(rows)


def test_ttl_keyed_state_never_expire_sentinel(spark, tmp_path_factory):
    """r15 runtime review: ttl_seconds=-1 is the subsystem-wide "never
    expire" sentinel (resume/retention honor it), but the raw timeout
    arithmetic INVERTED it — mx − 1000 ms sat below the watermark and
    the clamp expired every key one batch after observation.  With the
    sentinel honored, the same watermark-advancing scenario emits zero
    expired rows and every key stays live."""
    from meeseeker_spark.streaming.state import ttl_keyed_state

    rows = _run_ttl_scenario(spark, tmp_path_factory.mktemp("ttlnever"),
                             ttl_keyed_state, ttl_seconds=-1)
    assert rows and all(r["status"] == "live" for r in rows)
    assert {r["key"] for r in rows} == {
        "hive:1:a:0:vote", "hive:1:b:0:comment",
        "hive:9:z:0:vote", "hive:99:w:0:vote"}


def test_ttl_keyed_state_tws_matches(spark, tmp_path_factory):
    """The transformWithState TTL op (RocksDB state, first-class timers)
    reproduces the GroupState path's exact output on the same scenario."""
    # the TWS state-server protocol is protobuf-based; without the package
    # the driver worker cannot even open its handle (import gate, not a
    # behavior difference)
    pytest.importorskip("google.protobuf.descriptor")
    from meeseeker_spark.streaming.state import ttl_keyed_state_tws

    conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "org.apache.spark.sql.execution.streaming."
                         "state.RocksDBStateStoreProvider")
    try:
        rows = _run_ttl_scenario(spark, tmp_path_factory.mktemp("ttltws"),
                                 ttl_keyed_state_tws)
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    _check_ttl_rows(rows)


def test_resume_policy_engine():
    # B10 sidechain variant: staleness in seconds, fresh starts at tip+1
    from meeseeker_spark.resume import resolve_start_block_engine

    d = resolve_start_block_engine(None, 500, tip_age_s=3.0)
    assert d.fresh_sync and d.start_block == 501
    d = resolve_start_block_engine(490, 500, tip_age_s=3.0)
    assert not d.fresh_sync and d.start_block == 491
    d = resolve_start_block_engine(490, 500, tip_age_s=90_000.0)
    assert d.fresh_sync and d.start_block == 501
    d = resolve_start_block_engine(490, 500, tip_age_s=90_000.0, ttl_s=-1)
    assert d.start_block == 500
    d = resolve_start_block_engine(510, 500, tip_age_s=3.0, ttl_s=-1)
    assert d.start_block == 511
    # r15 runtime review: no-HWM outranks the ttl sentinel — a brand-new
    # sync with TTL disabled is a FRESH sync at tip+1, not a "resume"
    d = resolve_start_block_engine(None, 500, tip_age_s=3.0, ttl_s=-1)
    assert d.fresh_sync and d.start_block == 501
    assert "no high-water mark" in d.reason


def test_stream_batch_parity_channel_volume(spark, tmp_path_factory):
    """The flagship batch query and its streaming twin agree row-for-row:
    one declarative plan serves both `spark.read` and `readStream`
    (SURVEY §1.2 'batch backfill = same pipeline with spark.read').
    Streaming forbids exact distinct aggs, so n_users streams as
    dropDuplicates→count — the standard streaming-exact rewrite."""
    from pyspark.sql import functions as F

    from meeseeker_spark import catalog
    from meeseeker_spark.tables import load, normalize_ts

    sf = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sbparity")
    batch = {(r["event_type"], r["hour_ts"]):
             (r["n_events"], r["total_value"], r["n_users"])
             for r in catalog.ENTRIES["channel_volume"].spark(spark, sf).collect()}

    load(spark, sf, "events")  # pins nanosAsLong + UTC session confs
    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    # the file stream source wants a directory, not a file
    srcdir = d / "events"
    os.makedirs(srcdir, exist_ok=True)
    os.symlink(f"{sf}/events.parquet", srcdir / "events.parquet")

    def stream_src():
        return (
            normalize_ts(
                spark.readStream.schema(raw_schema).parquet(str(srcdir)),
                ("ts",))
            .withColumn("hour_ts", F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"))
        )

    def run(df, ckpt):
        got = []

        def _sink(batch_df, batch_id):
            got.extend(batch_df.collect())

        q = (df.writeStream.outputMode("complete").foreachBatch(_sink)
             .option("checkpointLocation", str(d / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return got

    main = run(
        stream_src().groupBy("event_type", "hour_ts")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value")), "c1")
    users = run(
        stream_src().select("event_type", "hour_ts", "user_id")
        .dropDuplicates(["event_type", "hour_ts", "user_id"])
        .groupBy("event_type", "hour_ts")
        .agg(F.count("*").alias("n_users")), "c2")

    got_main = {(r["event_type"], r["hour_ts"]):
                (r["n_events"], r["total_value"]) for r in main}
    got_users = {(r["event_type"], r["hour_ts"]): r["n_users"] for r in users}
    assert got_main.keys() == batch.keys() == got_users.keys()
    for k, (n, tv, nu) in batch.items():
        assert got_main[k] == (n, tv), k
        assert got_users[k] == nu, k


def test_engine_stream_ingest(spark, fx, tmp_path_factory):
    """Sidechain streaming ingestion (S5 daemon parity,
    follower_job.rb:148-185 poll loop / :20-83 sink): ENGINE_BLOCKS file
    stream → flatten in foreachBatch → engine ops store + wire-compat
    channels + HWM.  Store rows must equal the fixture golden exactly."""
    d = tmp_path_factory.mktemp("engstream")
    _write_batches(fx.engine_blocks, "engine_blocks",
                   str(d / "engine_blocks"), 3)

    q = P.start_engine_ingest(
        P.read_engine_stream(spark, str(d / "engine_blocks"),
                             max_files_per_trigger=1),
        str(d / "ops"), str(d / "channels"), str(d / "ckpt"))
    q.awaitTermination(120)

    got = P.ops_view(spark, str(d / "ops"))
    cols = ["chain", "block_num", "trx_id", "trx_index", "contract",
            "action", "transaction_num", "value", "key"]
    got_rows = sorted(
        (tuple(r[c] for c in cols) for r in got.select(*cols).collect()))
    want_rows = sorted(tuple(o[c] for c in cols)
                       for o in fx.engine_ops_expected)
    assert got_rows == want_rows
    # one manifest commit per micro-batch; multiple micro-batches happened
    from meeseeker_spark.manifest import ManifestStore
    v = ManifestStore(spark, str(d / "ops")).current_version()
    assert v and v > 1

    from pyspark.sql import functions as F
    ch = P.channel_events_view(spark, str(d / "channels"))
    names = {r["channel"] for r in ch.select("channel").distinct().collect()}
    # wire-compat: {chain}:{contract} / {chain}:{contract}:{action}, no
    # literal segment between chain and contract (follower_job.rb:81-82)
    assert "hive_engine:tokens" in names
    assert "hive_engine:tokens:transfer" in names
    assert not any(":contract:" in n for n in names)
    # per-trx + per-block notifications (follower_job.rb:44-50,77)
    assert "hive_engine:transaction" in names
    assert "hive_engine:virtual_transaction" in names
    assert "hive_engine:block" in names
    n_blocks = (
        ch.where(F.col("channel") == "hive_engine:block")
        .select("block_num").distinct().count())
    assert n_blocks == len(fx.engine_blocks)

    # HWM analog of LAST_STEEM_ENGINE_BLOCK_NUM_KEY_SUFFIX (:76)
    assert P.last_block_num(spark, str(d / "ops")) == \
        fx.engine_blocks[-1]["blockNumber"]


def test_block_channel_header_gate(spark, fx, tmp_path_factory):
    """MEESEEKER_INCLUDE_BLOCK_HEADER ingest gate (meeseeker.rb:97,
    block_follower_job.rb:60-76): header fields ride in the {chain}:block
    payload when on; bare {block_num} when off.  Each trigger is one
    manifest commit; a checkpoint-wiped replay short-circuits on the
    recorded batch ids instead of publishing twice."""
    import json as _json
    import shutil

    from meeseeker_spark.manifest import ManifestStore

    d = tmp_path_factory.mktemp("blkchan")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 2)

    for sub, include in (("with_hdr", True), ("no_hdr", False)):
        def run():
            q = P.start_block_channel_publisher(
                P.read_block_stream(spark, str(d / "blocks"),
                                    max_files_per_trigger=1),
                str(d / sub), str(d / f"ckpt_{sub}"),
                include_header=include)
            q.awaitTermination(120)

        run()
        v = ManifestStore(spark, str(d / sub)).current_version()
        # one commit per trigger = per block file
        assert v == len(glob.glob(str(d / "blocks" / "*.parquet")))
        shutil.rmtree(d / f"ckpt_{sub}")          # full replay
        run()
        assert ManifestStore(spark, str(d / sub)).current_version() == v
        rows = P.channel_events_view(spark, str(d / sub)).collect()
        assert len(rows) == len(fx.blocks)
        payload = _json.loads(rows[0]["payload"])
        assert rows[0]["channel"] == "hive:block"
        if include:
            assert {"block_num", "previous", "witness"} <= payload.keys()
        else:
            assert set(payload.keys()) == {"block_num"}


def test_streaming_dedup_screen(spark, tmp_path_factory):
    """Continuous-ingest dedup: batch 1 admits its exact-deduped docs;
    batch 2's near-copy of an admitted doc is rejected and logged, its
    fresh doc admitted. Earlier-ingested wins — the reference's
    first-writer key idempotence, lifted to near-dup semantics."""
    import time as _time

    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm stone wall near the garden gate")
    near = base.replace("warm", "cold")

    def doc(i, text):
        return (i, text, "en", "web", len(text))

    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def drop(name, rows):
        # the file source doesn't recurse into non-partition subdirs: write
        # aside, then move the part file into the watched dir directly
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    drop("b1", [doc(1, base), doc(2, base),
                doc(3, "completely different words about ships and harbors")])
    q = start_screen(spark, str(incoming), str(out), str(ckpt))
    q.awaitTermination(120)

    fresh = ("fresh unrelated content regarding mountain weather "
             "patterns across the northern ranges this coming winter")
    _time.sleep(1.1)  # distinct file mtime → deterministic batch order
    drop("b2", [doc(10, near), doc(11, fresh),
                # in-batch near-copy of 11 (ADVICE r3: same-batch
                # near-dups must collapse, not both admit)
                doc(12, fresh.replace("winter", "summer"))])
    q = start_screen(spark, str(incoming), str(out), str(ckpt))
    q.awaitTermination(120)

    corpus = {r["doc_id"] for r in
              spark.read.parquet(str(out / "corpus")).collect()}
    flagged = {(r["new_id"], r["corpus_id"]) for r in
               spark.read.parquet(str(out / "flagged")).collect()}
    # 2 = in-batch exact dup, 10 = cross-corpus near-dup, 12 = in-batch
    # near-dup of 11 (min id wins)
    assert corpus == {1, 3, 11}
    assert flagged == {(10, 1), (12, 11)}

    # replay-idempotence (the retry path): wipe the checkpoint so every
    # batch reprocesses against a corpus that already contains its own
    # prior output — the batch_id exclusion must keep each batch from
    # flagging itself as a jaccard-1.0 duplicate and emptying its
    # partition on overwrite
    import shutil
    shutil.rmtree(ckpt)
    q = start_screen(spark, str(incoming), str(out), str(ckpt))
    q.awaitTermination(120)
    corpus2 = {r["doc_id"] for r in
               spark.read.parquet(str(out / "corpus")).collect()}
    flagged2 = {(r["new_id"], r["corpus_id"]) for r in
                spark.read.parquet(str(out / "flagged")).collect()}
    assert corpus2 == corpus and flagged2 == flagged


def test_normalize_ts_handles_both_fixture_encodings(spark):
    """The driver has shipped fixtures as TIMESTAMP(NANOS) (readable only
    as long) AND as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    TIMESTAMP_NTZ) across rounds — normalize_ts must fold either to the
    same TimestampType value under the pinned UTC session zone."""
    import datetime

    from pyspark.sql.types import (LongType, StructField, StructType,
                                   TimestampNTZType, TimestampType)

    from meeseeker_spark.tables import normalize_ts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    us = 1_700_000_000_123_456                       # 2023-11-14T22:13:20.123456Z
    wall = datetime.datetime(2023, 11, 14, 22, 13, 20, 123456)

    nanos = spark.createDataFrame(
        [(us * 1000,)], StructType([StructField("ts", LongType())]))
    ntz = spark.createDataFrame(
        [(wall,)], StructType([StructField("ts", TimestampNTZType())]))

    for src in (nanos, ntz):
        out = normalize_ts(src, ("ts",))
        assert isinstance(out.schema["ts"].dataType, TimestampType)
        got = out.selectExpr("unix_micros(ts) AS us").first()["us"]
        assert got == us
    # absent columns are a no-op, not an error
    assert normalize_ts(nanos.withColumnRenamed("ts", "other"),
                        ("ts",)).columns == ["other"]


def test_ingest_checkpoint_wipe_replay_short_circuits(spark, fx,
                                                      tmp_path_factory):
    """start_ingest: same rows as batch flatten, plus HWM and channel
    fan-out; a checkpoint-wiped replay short-circuits on the recorded
    batch ids instead of re-committing."""
    import shutil

    from meeseeker_spark.manifest import ManifestStore

    d = tmp_path_factory.mktemp("streammanifest")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 4)

    def run():
        ops = P.streaming_ops(
            P.read_block_stream(spark, str(d / "blocks"),
                                max_files_per_trigger=1), None)
        q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                           str(d / "ckpt"))
        q.awaitTermination(120)

    run()
    got = P.ops_view(spark, str(d / "ops"))
    want = sorted(o["key"] for o in fx.ops_expected
                  if not o["key"].split(":")[2].startswith("0000"))
    # vop-less ingest: compare against the real-trx subset via batch path
    batch = flatten_blocks(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks")))
    assert (sorted(r["key"] for r in got.collect())
            == sorted(r["key"] for r in batch.collect()))
    assert P.last_block_num(spark, str(d / "ops")) \
        == fx.blocks[-1]["block_num"]
    assert P.channel_events_view(spark, str(d / "channels")).count() > 0
    n_versions = ManifestStore(spark, str(d / "ops")).current_version()
    assert n_versions and n_versions > 1     # one commit per micro-batch

    shutil.rmtree(str(d / "ckpt"))           # full replay
    run()
    got2 = P.ops_view(spark, str(d / "ops"))
    assert got2.count() == got.count()       # no duplicates
    assert ManifestStore(spark, str(d / "ops")).current_version() \
        == n_versions                        # every replay short-circuited


def test_engine_manifest_store_impl(spark, fx, tmp_path_factory):
    """Sidechain ingest through the manifest layout: same flatten output
    as batch flatten_engine_blocks, and the HWM."""
    d = tmp_path_factory.mktemp("engmanifest")
    _write_batches(fx.engine_blocks, "engine_blocks", str(d / "blocks"), 3)

    q = P.start_engine_ingest(
        P.read_engine_stream(spark, str(d / "blocks"),
                             max_files_per_trigger=1),
        str(d / "ops"), str(d / "channels"), str(d / "ckpt"))
    q.awaitTermination(120)

    from meeseeker_spark.flatten import flatten_engine_blocks
    from meeseeker_spark.schemas import ENGINE_BLOCKS
    batch = flatten_engine_blocks(
        spark.read.schema(ENGINE_BLOCKS).parquet(str(d / "blocks")))
    got = P.ops_view(spark, str(d / "ops"))
    assert (sorted(r["key"] for r in got.collect())
            == sorted(r["key"] for r in batch.collect()))
    assert P.last_block_num(spark, str(d / "ops")) \
        == max(b["blockNumber"] for b in fx.engine_blocks)


def test_screen_in_batch_chain_flags_against_survivor(spark):
    """A≈B≈C in ONE batch (review r4): cluster-level dedup admits only A,
    and every flagged corpus_id references the ADMITTED survivor — never
    another loser — with the directly-computed jaccard (possibly below
    the threshold for transitive links)."""
    from meeseeker_spark.streaming.screen import screen_batch

    # 20 tokens; B changes the last (J=17/19≈.894 vs A), C additionally
    # changes the first (J=.894 vs B, but 16/20=.8 vs A) → at τ=0.85 the
    # pair graph is the chain A—B—C with no (A,C) edge
    words = [f"w{i:02d}" for i in range(20)]
    base = " ".join(words)
    b = " ".join(["q99" if w == "w19" else w for w in words])
    c = b.replace("w00", "q88")
    TAU = 0.85
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    batch = spark.createDataFrame(
        [(1, base, "en", "w", 100), (2, b, "en", "w", 100),
         (3, c, "en", "w", 100)], cols)
    admitted, flagged = screen_batch(batch, None, threshold=TAU)
    assert [r["doc_id"] for r in admitted.collect()] == [1]
    fl = {(r["new_id"], r["corpus_id"]): r["jaccard"]
          for r in flagged.collect()}
    assert set(fl) == {(2, 1), (3, 1)}       # survivor 1, never 2
    # sanity: the chain really is a chain (C is transitively linked)
    from meeseeker_spark.ext import dedup
    pairs = {(p["doc_a"], p["doc_b"])
             for p in dedup.near_dup_pairs(batch, threshold=TAU).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    assert fl[(3, 1)] < TAU <= fl[(2, 1)]


def test_screen_bucketed_index_table(spark, tmp_path_factory):
    """Opt-in bucketed band-index table: same screening results as the
    dir layout, and candidate generation reads the index PRE-PARTITIONED
    — zero Exchange on the index side of the band join (the dir layout
    pays one per trigger)."""
    import contextlib
    import io
    import time as _time

    from meeseeker_spark.ext.dedup import incremental_candidates
    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screenbkt")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    TBL = "screen_band_index_test"
    spark.sql(f"DROP TABLE IF EXISTS {TBL}")

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm stone wall near the garden gate")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    try:
        drop("b1", [(1, base, "en", "web", len(base)),
                    (3, "completely different words about ships and "
                        "harbors", "en", "web", 40)])
        q = start_screen(spark, str(incoming), str(out), str(ckpt),
                         index_table=TBL)
        q.awaitTermination(120)
        _time.sleep(1.1)
        drop("b2", [(10, base.replace("warm", "cold"), "en", "web", 100),
                    (11, "fresh unrelated content regarding mountain "
                         "weather patterns", "en", "web", 60)])
        q = start_screen(spark, str(incoming), str(out), str(ckpt),
                         index_table=TBL)
        q.awaitTermination(120)

        corpus = {r["doc_id"] for r in
                  spark.read.parquet(str(out / "corpus")).collect()}
        flagged = {(r["new_id"], r["corpus_id"]) for r in
                   spark.read.parquet(str(out / "flagged")).collect()}
        assert corpus == {1, 3, 11}
        assert flagged == {(10, 1)}

        # plan shape: index side pre-partitioned by the bucketing
        batch = spark.createDataFrame(
            [(99, base.replace("dog", "hound"), "en", "web", 100)], cols)
        bands = spark.table(TBL).drop("batch_id")

        def explain_of(cand_df):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                cand_df.explain("formatted")
            return buf.getvalue()

        bucketed_plan = explain_of(
            incremental_candidates(batch, corpus_bands=bands))
        bands.write.mode("overwrite").parquet(str(d / "flat_index"))
        dir_bands = spark.read.parquet(str(d / "flat_index"))
        flat_plan = explain_of(
            incremental_candidates(batch, corpus_bands=dir_bands))
        assert "Bucketed: true" in bucketed_plan
        # the bucketed read arrives pre-partitioned on the band key, so
        # the index-side exchange disappears (formatted explain mentions
        # each node in tree + detail, hence counting, not equality-to-1)
        assert (bucketed_plan.count("Exchange")
                < flat_plan.count("Exchange"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TBL}")


def test_screen_cross_rejected_survivor_remaps_flags(spark):
    """Review r4 follow-up: when the in-batch cluster survivor is ITSELF
    rejected by the cross-corpus screen, its dependents' flags remap to
    the survivor's corpus match — the final log never references a
    fellow reject."""
    from meeseeker_spark.streaming.screen import screen_batch

    words = [f"w{i:02d}" for i in range(20)]
    x = " ".join(words)                                    # corpus doc
    a = " ".join(["q99" if w == "w19" else w for w in words])   # ≈ X
    b = a.replace("w00", "q88")                            # ≈ A
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    corpus = spark.createDataFrame([(100, x, "en", "w", 100)], cols)
    batch = spark.createDataFrame(
        [(1, a, "en", "w", 100), (2, b, "en", "w", 100)], cols)

    admitted, flagged = screen_batch(batch, corpus, threshold=0.85)
    assert admitted.count() == 0                     # both rejected
    fl = {(r["new_id"], r["corpus_id"]) for r in flagged.collect()}
    # A flags against corpus X; B's in-batch flag (B→A) remaps to X
    assert fl == {(1, 100), (2, 100)}


def test_screen_index_layout_marker_guard(spark, tmp_path_factory):
    """Toggling index_table against existing screen state is refused
    loudly (review r4 follow-up); a stale same-named table without a
    marker is refused too."""
    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screenmarker")
    incoming = d / "incoming"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    tmp = d / "w"
    spark.createDataFrame(
        [(1, "some words here about things", "en", "w", 30)], cols
    ).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, incoming / "b1.parquet")

    q = start_screen(spark, str(incoming), str(d / "out"), str(d / "ckpt"))
    q.awaitTermination(120)
    with pytest.raises(RuntimeError, match="index_table"):
        start_screen(spark, str(incoming), str(d / "out"),
                     str(d / "ckpt"), index_table="some_table")

    TBL = "stale_screen_index_test"
    spark.sql(f"DROP TABLE IF EXISTS {TBL}")
    try:
        spark.createDataFrame(
            [(1, "x", 0)], "doc_id bigint, band string, batch_id bigint"
        ).write.bucketBy(4, "band").format("parquet").saveAsTable(TBL)
        with pytest.raises(RuntimeError, match="no layout marker"):
            start_screen(spark, str(incoming), str(d / "out2"),
                         str(d / "ckpt2"), index_table=TBL)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TBL}")


def test_rebuild_band_index_clears_duplicates(spark, tmp_path_factory):
    """rebuild_band_index rewrites the table from the corpus store —
    retry-appended duplicate band rows disappear, content unchanged."""
    from pyspark.sql import functions as F

    from meeseeker_spark.streaming.screen import (banded_projection,
                                                  rebuild_band_index)

    d = tmp_path_factory.mktemp("rebuild")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon", "en", "w", 30),
         (2, "zeta eta theta iota kappa", "en", "w", 25)], cols)
    (docs.write.parquet(str(d / "out" / "corpus" / "batch_id=0")))
    TBL = "rebuild_band_index_test"
    spark.sql(f"DROP TABLE IF EXISTS {TBL}")
    try:
        proj = banded_projection(docs).withColumn("batch_id", F.lit(0))
        for _ in range(2):      # simulate a retry double-append
            (proj.write.mode("append").bucketBy(4, "band").sortBy("band")
             .format("parquet").saveAsTable(TBL))
        assert spark.table(TBL).count() == 2 * proj.count()
        n = rebuild_band_index(spark, str(d / "out"), TBL, index_buckets=4)
        assert n == proj.count()
        got = {(r["doc_id"], r["band"]) for r in
               spark.table(TBL).drop("batch_id").collect()}
        want = {(r["doc_id"], r["band"]) for r in proj.drop("batch_id")
                .collect()}
        assert got == want

        # r15 review (mirrors rebuild_exact_index's ADVICE r10+r11
        # guard): every corpus batch expired → the rebuild must purge
        # the stale table to EMPTY, not crash on the empty glob
        import shutil as _sh
        _sh.rmtree(str(d / "out" / "corpus" / "batch_id=0"))
        assert rebuild_band_index(spark, str(d / "out"), TBL,
                                  index_buckets=4) == 0
        assert spark.table(TBL).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TBL}")


def test_screen_quality_gate(spark, tmp_path_factory):
    """Opt-in quality gate on the ingest screen: rejected docs land in
    quality_rejected, never reach the corpus or the band index, and a
    checkpoint-wipe replay stays idempotent (deterministic gate →
    identical reject set on retry)."""
    import shutil
    import time as _time

    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screenqg")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)

    long_a = " ".join(f"ship{i}" for i in range(30))
    long_b = " ".join(f"tide{i}" for i in range(30))
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def doc(i, text):
        return (i, text, "en", "web", len(text))

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    def gate(df):
        # stats-floor gate: ≥10 whitespace words (a gopher_rules-style
        # screen; any deterministic schema-preserving filter works)
        from pyspark.sql import functions as SF
        return df.where(SF.size(SF.split("text", "\\s+")) >= 10)

    drop("b1", [doc(1, long_a), doc(2, "too short to pass")])
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     quality_gate=gate)
    q.awaitTermination(120)
    _time.sleep(1.1)
    drop("b2", [doc(10, long_b), doc(11, "also tiny"),
                doc(12, long_a.replace("ship0", "boat0"))])
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     quality_gate=gate)
    q.awaitTermination(120)

    corpus = {r["doc_id"] for r in
              spark.read.parquet(str(out / "corpus")).collect()}
    rejected = {r["doc_id"] for r in
                spark.read.parquet(str(out / "quality_rejected")).collect()}
    flagged = {(r["new_id"], r["corpus_id"]) for r in
               spark.read.parquet(str(out / "flagged")).collect()}
    assert corpus == {1, 10}            # 12 = near-dup of 1, screened
    assert rejected == {2, 11}          # gate rejects, dedup never sees
    assert flagged == {(12, 1)}
    # band index only carries gate survivors
    idx_ids = {r["doc_id"] for r in
               spark.read.parquet(str(out / "index")).collect()}
    assert idx_ids == {1, 10}

    # replay after checkpoint wipe: identical end state
    shutil.rmtree(ckpt)
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     quality_gate=gate)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in
            spark.read.parquet(str(out / "corpus")).collect()} == {1, 10}
    assert {r["doc_id"] for r in
            spark.read.parquet(str(out / "quality_rejected")).collect()} \
        == {2, 11}


def test_screen_report_rollup(spark, tmp_path_factory):
    """screen_report: per-batch admitted/flagged/quality counts from the
    batch_id=N layout — all-rejected batches still appear at 0 admitted,
    missing quality dir reads as zeros, no tree → loud error."""
    import pytest as _pytest

    from meeseeker_spark.streaming.screen import screen_report

    d = tmp_path_factory.mktemp("screenrep")
    out = d / "out"

    def w(sub, batch_id, rows, cols):
        (spark.createDataFrame(rows, cols).write.mode("overwrite")
         .parquet(str(out / sub / f"batch_id={batch_id}")))

    doc_cols = ["doc_id", "text"]
    flag_cols = ["new_id", "corpus_id", "jaccard"]
    w("corpus", 0, [(1, "a"), (2, "b")], doc_cols)
    w("corpus", 1, [(3, "c")], doc_cols)
    w("flagged", 0, [], "new_id bigint, corpus_id bigint, jaccard double")
    w("flagged", 1, [(4, 1, 0.9), (5, 2, 0.8)], flag_cols)
    # batch 2: everything rejected → empty corpus partition, 1 flag
    w("corpus", 2, [], "doc_id bigint, text string")
    w("flagged", 2, [(6, 3, 1.0)], flag_cols)

    got = [tuple(r) for r in screen_report(spark, str(out)).collect()]
    # trailing None: no drift monitor ran (NULL, not 0 — 0 would
    # read as a measured zero-drift batch)
    assert got == [(0, 2, 0, 0, None), (1, 1, 2, 0, None),
                   (2, 0, 1, 0, None)]

    # quality_rejected dir present → real counts appear
    w("quality_rejected", 1, [(9, "junk")], doc_cols)
    got2 = [tuple(r) for r in screen_report(spark, str(out)).collect()]
    assert got2 == [(0, 2, 0, 0, None), (1, 1, 2, 1, None),
                    (2, 0, 1, 0, None)]

    with _pytest.raises(FileNotFoundError):
        screen_report(spark, str(d / "nowhere"))


def test_screen_exact_index_prescreen(spark, tmp_path_factory):
    """Bloom-accelerated exact-dup prescreen (r10, exact_index=True):
    the admitted set is IDENTICAL to the plain screen (an exact dup is a
    jaccard-1.0 near-dup either way), the exact re-post is flagged at
    jaccard 1.0 against its corpus doc without entering the band
    machinery, and a wiped-checkpoint replay reproduces the store
    byte-for-byte (fpx/bloom are text-pure projections).  Toggling the
    flag against existing state refuses via the layout marker."""
    import shutil
    import time as _time

    from meeseeker_spark.streaming.screen import start_screen

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm stone wall near the garden gate")
    near = base.replace("warm", "cold")
    fresh = ("fresh unrelated content regarding mountain weather "
             "patterns across the northern ranges this coming winter")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def doc(i, text):
        return (i, text, "en", "web", len(text))

    def drop(d, incoming, name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    def run(exact):
        d = tmp_path_factory.mktemp(f"screen_ex_{int(exact)}")
        incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
        os.makedirs(incoming)
        drop(d, incoming, "b1", [
            doc(1, base),
            doc(3, "completely different words about ships and harbors")])
        q = start_screen(spark, str(incoming), str(out), str(ckpt),
                         exact_index=exact)
        q.awaitTermination(120)
        _time.sleep(1.1)
        drop(d, incoming, "b2", [doc(10, base),        # exact re-post
                                 doc(11, near),        # near-dup
                                 doc(12, fresh)])
        q = start_screen(spark, str(incoming), str(out), str(ckpt),
                         exact_index=exact)
        q.awaitTermination(120)
        corpus = {r["doc_id"] for r in
                  spark.read.parquet(str(out / "corpus")).collect()}
        flagged = {(r["new_id"], r["corpus_id"], r["jaccard"]) for r in
                   spark.read.parquet(str(out / "flagged")).collect()}
        return d, out, ckpt, incoming, corpus, flagged

    d0, _, _, _, corpus_plain, flagged_plain = run(False)
    d1, out, ckpt, incoming, corpus_ex, flagged_ex = run(True)

    assert corpus_ex == corpus_plain == {1, 3, 12}  # admitted set identical
    # the exact re-post came through the prescreen at jaccard exactly 1.0
    assert (10, 1, 1.0) in flagged_ex
    assert {(n, c) for n, c, _ in flagged_ex} == \
        {(n, c) for n, c, _ in flagged_plain} == {(10, 1), (11, 1)}
    # the fingerprint/bloom index materialized per admitted batch
    fpx = spark.read.parquet(str(out / "fpx"))
    assert {r["doc_id"] for r in fpx.collect()} == {1, 3, 12}
    assert spark.read.parquet(str(out / "bloom")).count() > 0

    # wiped-checkpoint replay: every batch reprocesses against a store
    # already holding its own output — the batch_id exclusions on
    # corpus/index/fpx/bloom must reproduce the exact same state
    shutil.rmtree(ckpt)
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)
    q.awaitTermination(120)
    corpus2 = {r["doc_id"] for r in
               spark.read.parquet(str(out / "corpus")).collect()}
    flagged2 = {(r["new_id"], r["corpus_id"], r["jaccard"]) for r in
                spark.read.parquet(str(out / "flagged")).collect()}
    assert corpus2 == corpus_ex and flagged2 == flagged_ex

    # marker guard: toggling exact_index against existing state refuses
    with pytest.raises(RuntimeError, match="exact_index"):
        start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=False)


def test_exact_prescreen_split_is_exact(spark):
    """Batch API: (fresh, seen) equals the plain fingerprint-join split
    — bloom false positives are removed by the verify, so the split is
    EXACT; seen maps to the min-id corpus doc."""
    from pyspark.sql import Row, functions as F

    from meeseeker_spark.ext.sketch import (bloom_bitmap, exact_prescreen)
    from meeseeker_spark.ext.text import fingerprint

    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"corpus document number {i} about topic "
                            f"{i % 7}") for i in range(60)]
        + [Row(doc_id=1000, text="corpus document number 3 about topic 3")])
    fpx = corpus.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
    bloom = bloom_bitmap(fpx.select("fp").distinct(), "fp")
    batch = spark.createDataFrame(
        [Row(doc_id=2000, text="corpus document number 3 about topic 3"),
         Row(doc_id=2001, text="corpus document number 9 about topic 2"),
         Row(doc_id=2002, text="a brand new incoming document")])
    f, seen = exact_prescreen(batch, fpx, bloom)
    assert {r["doc_id"] for r in f.collect()} == {2002}
    seen_rows = {(r["doc_id"], r["corpus_id"]) for r in seen.collect()}
    assert seen_rows == {(2000, 3), (2001, 9)}  # min-id survivor (3, not 1000)


def test_screen_drift_monitor(spark, tmp_path_factory):
    """start_screen(drift_baseline=...): every raw batch writes its
    one-row KL summary under drift/batch_id=N BEFORE screening — the
    drifting batch scores higher than the in-distribution one even
    though screening later rejects its docs."""
    import time as _time

    from pyspark.sql import Row

    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen_drift")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    baseline = spark.createDataFrame(
        [Row(doc_id=i, text=f"steady corpus text about topic {i % 5} "
                            f"with common shared words") for i in range(40)])

    drop("b1", [(1, "steady corpus text about topic 1 with common shared "
                    "words", "en", "web", 60)])
    _time.sleep(1.1)
    drop("b2", [(10, "spamword " * 12, "en", "web", 108)])
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     drift_baseline=baseline)
    q.awaitTermination(120)

    drift = {r["batch_id"]: r["kl_divergence"] for r in
             spark.read.parquet(str(out / "drift")).collect()}
    assert set(drift) == {0, 1}
    assert drift[1] > drift[0]  # the spam batch drifts harder

    # the rollup surfaces the same number per batch
    from meeseeker_spark.streaming.screen import screen_report
    rep = {r["batch_id"]: r["kl_divergence"]
           for r in screen_report(spark, str(out)).collect()}
    assert rep == drift


def test_screen_exact_index_self_heals_missing_bloom(spark, tmp_path_factory):
    """Regression (r10 review): a crash window between the fpx write and
    the bloom write leaves fpx populated but bloom absent — the next run
    must skip the prescreen for that trigger (banded screen still
    catches the re-post) and recreate both dirs, not crash-loop on the
    missing bloom read."""
    import shutil
    import time as _time

    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen_heal")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm stone wall near the garden gate")

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    drop("b1", [(1, base, "en", "web", len(base))])
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)
    q.awaitTermination(120)
    shutil.rmtree(out / "bloom")  # the simulated crash window

    _time.sleep(1.1)
    drop("b2", [(10, base, "en", "web", len(base))])  # exact re-post
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)
    q.awaitTermination(120)

    corpus = {r["doc_id"] for r in
              spark.read.parquet(str(out / "corpus")).collect()}
    flagged = {(r["new_id"], r["corpus_id"]) for r in
               spark.read.parquet(str(out / "flagged")).collect()}
    assert corpus == {1}          # re-post still rejected (banded path)
    assert flagged == {(10, 1)}
    assert os.path.isdir(out / "bloom")  # dirs recreated by batch 1


def test_screen_mid_batch_crash_between_corpus_and_index(
        spark, tmp_path_factory, monkeypatch):
    """VERDICT r12 item 5: kill the screen INSIDE one trigger, between
    the corpus append and the index append, then restart — the replayed
    trigger must converge to the same admitted set and index rows with
    no double admission.  The claimed mechanism: the checkpoint never
    committed the batch, so the whole trigger replays; the self-
    exclusion filters (batch_id != this batch) make the re-screen blind
    to the crashed attempt's own partial writes, and batch_id=N
    overwrite mode replaces them byte-identically.

    Injection point: the screen module's banded_projection reference —
    called at exactly one place in the hot sink, AFTER the corpus +
    flagged writes and BEFORE the band-index/fpx/bloom writes (the
    screen_batch-internal banding resolves through the dedup module's
    namespace and is untouched)."""
    import time as _time

    import pytest

    from meeseeker_spark.streaming import screen as screen_mod
    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen_midbatch_crash")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    tex_a = ("archive text about granite quarries and the narrow gauge "
             "rails that carried the blocks down to the harbour")
    tex_b = ("unrelated text describing orchard grafting techniques for "
             "late season apple varieties in cold climates")
    tex_c = ("fresh text on tidal power turbines and the maintenance "
             "diving schedules their blades demand")

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    drop("b0", [(1, tex_a, "en", "web", len(tex_a))])
    _time.sleep(1.1)
    drop("b1", [(2, tex_b, "en", "web", len(tex_b))])
    _time.sleep(1.1)
    drop("b2", [(31, tex_a, "en", "web", len(tex_a)),   # exact dup of 1
                (4, tex_c, "en", "web", len(tex_c))])   # genuinely new

    real_proj = screen_mod.banded_projection
    calls = []

    def crash_on_third(*a, **k):
        calls.append(1)
        if len(calls) == 3:        # batch 2's index build, first attempt
            raise RuntimeError("injected mid-batch kill")
        return real_proj(*a, **k)

    monkeypatch.setattr(screen_mod, "banded_projection", crash_on_third)

    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)
    with pytest.raises(Exception, match="injected mid-batch kill"):
        q.awaitTermination()
    # the drill's premise holds: the crashed attempt's corpus partition
    # landed but its index partitions did not
    assert (out / "corpus" / "batch_id=2").is_dir()
    assert not (out / "index" / "batch_id=2").exists()
    assert not (out / "fpx" / "batch_id=2").exists()

    # restart on the same checkpoint: batch 2 replays and completes
    q2 = start_screen(spark, str(incoming), str(out), str(ckpt),
                      exact_index=True)
    q2.awaitTermination(120)

    admitted = [(r["batch_id"], r["doc_id"]) for r in
                spark.read.parquet(str(out / "corpus")).collect()]
    assert sorted(admitted) == [(0, 1), (1, 2), (2, 4)]
    assert len(admitted) == len(set(admitted))      # no double admission
    flagged = {(r["new_id"], r["corpus_id"], r["jaccard"]) for r in
               spark.read.parquet(str(out / "flagged")).collect()}
    assert flagged == {(31, 1, 1.0)}
    # the index converged: exactly the admitted docs, batch 2 included
    idx = spark.read.parquet(str(out / "index"))
    assert sorted(set((r["batch_id"], r["doc_id"]) for r in
                      idx.collect())) == [(0, 1), (1, 2), (2, 4)]
    fpx = [(r["batch_id"], r["doc_id"]) for r in
           spark.read.parquet(str(out / "fpx")).collect()]
    assert sorted(fpx) == [(0, 1), (1, 2), (2, 4)]
    assert (out / "bloom" / "batch_id=2").is_dir()
    # a fourth invocation re-posting the crashed batch's texts screens
    # them against the CONVERGED index (exact for both survivors)
    _time.sleep(1.1)
    drop("b3", [(41, tex_a, "en", "web", len(tex_a)),
                (44, tex_c, "en", "web", len(tex_c))])
    q3 = start_screen(spark, str(incoming), str(out), str(ckpt),
                      exact_index=True)
    q3.awaitTermination(120)
    flagged2 = {(r["new_id"], r["corpus_id"]) for r in
                spark.read.parquet(str(out / "flagged")).collect()}
    assert flagged2 == {(31, 1), (41, 1), (44, 4)}


def test_rebuild_exact_index_from_corpus(spark, tmp_path_factory):
    """rebuild_exact_index rewrites fpx/bloom from the corpus store —
    the maintenance path after corpus retention (a bloom cannot unlearn
    a key).  Fingerprints are text-pure: rebuild == the per-batch
    projections the screen itself wrote."""
    import shutil
    import time as _time

    from meeseeker_spark.streaming.screen import (rebuild_exact_index,
                                                  start_screen)

    d = tmp_path_factory.mktemp("screen_rebuild")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    drop("b1", [(1, "first corpus doc about rivers and bridges spanning "
                    "them", "en", "web", 60)])
    _time.sleep(1.1)
    drop("b2", [(2, "second corpus doc about mountains and the passes "
                    "between them", "en", "web", 66)])
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)
    q.awaitTermination(120)

    orig_fpx = sorted(tuple(r) for r in
                      spark.read.parquet(str(out / "fpx")).collect())
    orig_bloom = sorted(tuple(r) for r in
                        spark.read.parquet(str(out / "bloom")).collect())
    shutil.rmtree(out / "fpx")
    shutil.rmtree(out / "bloom")
    n = rebuild_exact_index(spark, str(out))
    assert n == 2
    rebuilt_fpx = sorted(tuple(r) for r in
                         spark.read.parquet(str(out / "fpx")).collect())
    rebuilt_bloom = sorted(tuple(r) for r in
                           spark.read.parquet(str(out / "bloom")).collect())
    assert rebuilt_fpx == orig_fpx
    assert rebuilt_bloom == orig_bloom


def test_rebuild_exact_index_prunes_expired_batches(spark, tmp_path_factory):
    """Regression (ADVICE r11): after a retention delete of
    corpus/batch_id=K the per-batch rewrite loop alone only overwrites
    SURVIVING batches — the stale fpx/bloom batch_id=K dirs would keep
    over-flagging (the bitmap cannot unlearn) and carrying dangling
    doc_ids forever.  rebuild_exact_index must remove them."""
    import shutil
    import time as _time

    from meeseeker_spark.ext.sketch import bloom_membership
    from meeseeker_spark.ext.text import fingerprint as _fp
    from meeseeker_spark.streaming.screen import (rebuild_exact_index,
                                                  start_screen)

    d = tmp_path_factory.mktemp("screen_prune")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    keep_text = "surviving doc about rivers and the bridges spanning them"
    gone_text = "expiring doc about mountains and the passes between them"
    drop("b1", [(1, keep_text, "en", "web", len(keep_text))])
    _time.sleep(1.1)
    drop("b2", [(2, gone_text, "en", "web", len(gone_text))])
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)
    q.awaitTermination(120)
    assert os.path.isdir(out / "fpx" / "batch_id=1")

    # retention expires batch 1 from the corpus store
    shutil.rmtree(out / "corpus" / "batch_id=1")
    n = rebuild_exact_index(spark, str(out))
    assert n == 1
    assert not os.path.exists(out / "fpx" / "batch_id=1")
    assert not os.path.exists(out / "bloom" / "batch_id=1")
    fpx = [tuple(r) for r in spark.read.parquet(str(out / "fpx")).collect()]
    assert {r[1] for r in fpx} == {1}  # no dangling doc_ids
    # the merged bitmap no longer flags the expired doc's fingerprint
    from pyspark.sql import functions as F
    merged = (spark.read.parquet(str(out / "bloom"))
              .groupBy("word_idx").agg(F.bit_or("word").alias("word")))
    probes = spark.createDataFrame(
        [(keep_text,), (gone_text,)], ["text"]).select(
        _fp(F.col("text")).alias("fp"))
    flags = {r["fp"]: r["maybe_seen"] for r in
             bloom_membership(probes, merged, "fp").collect()}
    import hashlib
    import re as _re

    def py_fp(t):
        return hashlib.md5(
            _re.sub(r"\s+", " ", t.lower()).strip().encode()).hexdigest()

    assert flags[py_fp(keep_text)] is True
    assert flags[py_fp(gone_text)] is False  # unlearned by the rebuild


def test_screen_bloom_sizing_marker_guard(spark, tmp_path_factory):
    """The layout marker records bloom_m_bits/bloom_k (ADVICE r11): a
    restart probing the stored bitmap at different slot parameters
    would yield false 'provably fresh' verdicts with no guard firing —
    it must refuse instead; the recorded sizing restarts cleanly."""
    import json
    import time as _time

    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen_sizing")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    txt = "a document about canals and the locks that climb them"
    drop("b1", [(1, txt, "en", "web", len(txt))])
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True, bloom_m_bits=4096, bloom_k=3)
    q.awaitTermination(120)
    with open(out / "_index_layout.json") as f:
        rec = json.load(f)
    assert (rec["bloom_m_bits"], rec["bloom_k"]) == (4096, 3)

    with pytest.raises(RuntimeError, match="mismatched slot positions"):
        start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True, bloom_m_bits=8192, bloom_k=5)

    # the recorded sizing restarts cleanly (and screens correctly)
    _time.sleep(1.1)
    drop("b2", [(7, txt, "en", "web", len(txt))])  # exact re-post
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True, bloom_m_bits=4096, bloom_k=3)
    q.awaitTermination(120)
    flagged = {(r["new_id"], r["corpus_id"]) for r in
               spark.read.parquet(str(out / "flagged")).collect()}
    assert flagged == {(7, 1)}

    # a pre-r11 marker (no sizing keys) means "built at the then
    # hard-coded defaults": defaults restart, anything else refuses
    with open(out / "_index_layout.json") as f:
        rec = json.load(f)
    del rec["bloom_m_bits"], rec["bloom_k"]
    with open(out / "_index_layout.json", "w") as f:
        json.dump(rec, f)
    with pytest.raises(RuntimeError, match="mismatched slot positions"):
        start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True, bloom_m_bits=4096, bloom_k=3)


def test_screen_drift_baseline_unpersisted_on_stop(spark, tmp_path_factory):
    """Regression (ADVICE r10): the screen persists its drift baseline
    for the life of the QUERY, not the session — repeated screen
    restarts in one session must not accumulate cached
    vocabulary-sized baselines in executor storage."""
    import time as _time

    from pyspark.sql import Row

    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen_unpersist")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    tmp = d / "w_b1"
    txt = "steady corpus text about topic one with common shared words"
    spark.createDataFrame([(1, txt, "en", "web", len(txt))],
                          cols).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, incoming / "b1.parquet")

    # a count-table baseline: start_screen persists THIS frame (persist
    # returns self), so its storage level is observable here
    from meeseeker_spark.ext.drift import token_counts
    baseline = token_counts(spark.createDataFrame(
        [Row(doc_id=i, text=f"steady corpus text about topic {i % 5} "
                            f"with common shared words")
         for i in range(20)]))
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     drift_baseline=baseline)
    q.awaitTermination(120)
    # the termination listener fires asynchronously — poll
    deadline = _time.time() + 30
    while _time.time() < deadline and baseline.storageLevel.useMemory:
        _time.sleep(0.25)
    assert not baseline.storageLevel.useMemory


def test_replay_screen_matches_streaming(spark, tmp_path_factory):
    """replay_screen (the driver-graded screen_replay surface) must
    reproduce the ACTUAL streaming screen decision-for-decision on the
    graded input itself: the sf0.001 fixture split doc_id % 3 plus the
    catalog entry's planted re-posts, run through
    start_screen(exact_index=True) as three real triggers — per-batch
    admitted sets and (new_id, corpus_id) flag multisets must be
    identical.  This is the pin that makes the batch-replay oracle an
    oracle OF THE STREAM."""
    import os as _os

    from pyspark.sql import functions as F

    from meeseeker_spark.streaming.screen import replay_screen, start_screen
    from meeseeker_spark.tables import load

    SF = "/root/testdata/sf0.001"
    docs = load(spark, SF, "documents")
    base = docs.withColumn("_b", (F.col("doc_id") % 3).cast("int"))

    def repost(offset):
        return (docs.where(F.col("doc_id") % 21 == 0)
                .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
                .withColumn("_b", F.lit(2)))

    allrows = (base.unionByName(repost(10_000_000))
               .unionByName(repost(20_000_000)))
    batches = [allrows.where(F.col("_b") == b).drop("_b")
               for b in range(3)]

    d = tmp_path_factory.mktemp("replay_equiv")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    _os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for b, bdf in enumerate(batches):
        tmp = d / f"w_{b}"
        bdf.select(*cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in _os.listdir(tmp) if p.endswith(".parquet"))
        dst = incoming / f"b{b}.parquet"
        _os.rename(tmp / part, dst)
        # explicit mtimes pin the trigger order (the file source consumes
        # oldest-first; sleeps are flakier)
        _os.utime(dst, (1_700_000_000 + 10 * b, 1_700_000_000 + 10 * b))

    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)
    q.awaitTermination(300)

    rep = replay_screen(batches, threshold=0.5, exact_index=True)
    rows = rep.collect()
    rep_adm = {(r["batch_id"], r["doc_id"]) for r in rows
               if r["status"] == "admitted"}
    rep_flag = sorted((r["batch_id"], r["doc_id"], r["corpus_id"])
                      for r in rows if r["status"] != "admitted")

    stream_adm = {(r["batch_id"], r["doc_id"]) for r in
                  spark.read.parquet(str(out / "corpus")).collect()}
    stream_flag = sorted((r["batch_id"], r["new_id"], r["corpus_id"])
                         for r in
                         spark.read.parquet(str(out / "flagged")).collect())
    assert rep_adm == stream_adm
    assert rep_flag == stream_flag
    # the composition is live on this input: every mechanism fired
    statuses = {r["status"] for r in rows}
    assert statuses == {"admitted", "exact", "near"}


def test_rebuild_exact_index_total_expiry(spark, tmp_path_factory):
    """Regression (r11 review): retention that expires EVERY corpus
    batch must still prune the stale fpx/bloom dirs — the old glob-based
    read crashed on the empty corpus before the prune loop ran, leaving
    the over-flagging bitmap unreparable."""
    import shutil
    import time as _time

    from meeseeker_spark.streaming.screen import (rebuild_exact_index,
                                                  start_screen)

    d = tmp_path_factory.mktemp("screen_total_expiry")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    tmp = d / "w_b1"
    txt = "a doc about ferries and the tides that carry them"
    spark.createDataFrame([(1, txt, "en", "web", len(txt))],
                          cols).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, incoming / "b1.parquet")
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)
    q.awaitTermination(120)

    shutil.rmtree(out / "corpus" / "batch_id=0")  # total expiry
    n = rebuild_exact_index(spark, str(out))
    assert n == 0
    assert not any(e.startswith("batch_id=")
                   for e in os.listdir(out / "fpx"))
    assert not any(e.startswith("batch_id=")
                   for e in os.listdir(out / "bloom"))


def test_rebuild_exact_index_resize_recovery(spark, tmp_path_factory):
    """Regression (r11 review): the sizing-mismatch refusal must have a
    working recovery path — rebuild_exact_index(m_bits=..., k=...)
    rewrites the bitmaps at the NEW sizing AND the marker, after which
    the resized restart screens correctly."""
    import time as _time

    import pytest as _pytest

    from meeseeker_spark.streaming.screen import (rebuild_exact_index,
                                                  start_screen)

    d = tmp_path_factory.mktemp("screen_resize")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    txt = "a doc about gliders and the thermals that lift them"
    drop("b1", [(1, txt, "en", "web", len(txt))])
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True)  # default 8192/5
    q.awaitTermination(120)

    with _pytest.raises(RuntimeError, match="rebuild_exact_index"):
        start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True, bloom_m_bits=4096, bloom_k=3)
    # the prescribed recovery: rebuild under the new sizing
    rebuild_exact_index(spark, str(out), m_bits=4096, k=3)
    _time.sleep(1.1)
    drop("b2", [(9, txt, "en", "web", len(txt))])  # exact re-post
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     exact_index=True, bloom_m_bits=4096, bloom_k=3)
    q.awaitTermination(120)
    flagged = {(r["new_id"], r["corpus_id"]) for r in
               spark.read.parquet(str(out / "flagged")).collect()}
    assert flagged == {(9, 1)}  # resized bitmap probed correctly


def test_screen_drift_baseline_unpersist_fast_path(spark, tmp_path_factory):
    """Regression (r11 review): an availableNow restart with nothing new
    to process can terminate before the unpersist listener registers —
    the isActive fallback must still release the baseline."""
    import time as _time

    from meeseeker_spark.ext.drift import token_counts
    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen_unpersist_fast")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    tmp = d / "w_b1"
    txt = "steady corpus text about topic one with common shared words"
    spark.createDataFrame([(1, txt, "en", "web", len(txt))],
                          cols).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, incoming / "b1.parquet")

    bl1 = token_counts(spark.createDataFrame(
        [(1, txt)], ["doc_id", "text"]))
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     drift_baseline=bl1)
    q.awaitTermination(120)
    # restart with NO new files: the query terminates near-instantly
    bl2 = token_counts(spark.createDataFrame(
        [(1, txt)], ["doc_id", "text"]))
    q = start_screen(spark, str(incoming), str(out), str(ckpt),
                     drift_baseline=bl2)
    q.awaitTermination(120)
    deadline = _time.time() + 30
    while _time.time() < deadline and (
            bl1.storageLevel.useMemory or bl2.storageLevel.useMemory):
        _time.sleep(0.25)
    assert not bl1.storageLevel.useMemory
    assert not bl2.storageLevel.useMemory


def test_screen_shared_drift_baseline_refcounted(spark, tmp_path_factory):
    """Regression (ADVICE r11): two live screens sharing ONE baseline
    DataFrame object — the FIRST termination must not unpersist the
    cache out from under the still-active second query; the LAST
    termination releases it."""
    import time as _time

    from meeseeker_spark.ext.drift import token_counts
    from meeseeker_spark.streaming.screen import (_BASELINE_REFCOUNT,
                                                  start_screen)

    d = tmp_path_factory.mktemp("screen_shared_baseline")
    inc_a, out_a, ck_a = d / "inc_a", d / "out_a", d / "ck_a"
    inc_b, out_b, ck_b = d / "inc_b", d / "out_b", d / "ck_b"
    os.makedirs(inc_a)
    os.makedirs(inc_b)  # stays empty: B idles until stopped
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    txt = "steady corpus text about topic one with common shared words"
    tmp = d / "w_b1"
    spark.createDataFrame([(1, txt, "en", "web", len(txt))],
                          cols).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, inc_a / "b1.parquet")

    baseline = token_counts(spark.createDataFrame(
        [(1, txt)], ["doc_id", "text"]))
    key = id(baseline)
    q_b = start_screen(spark, str(inc_b), str(out_b), str(ck_b),
                       available_now=False, drift_baseline=baseline)
    q_a = start_screen(spark, str(inc_a), str(out_a), str(ck_a),
                       drift_baseline=baseline)
    try:
        # A's availableNow query may already have terminated and fired
        # its listener by now (async) — 2 before A fires, 1 after;
        # the load-bearing assertion is the post-fire poll below
        assert _BASELINE_REFCOUNT.get(key) in (1, 2)
        q_a.awaitTermination(120)
        # wait for A's listener to actually fire (async), then the
        # cache must STILL be live — B holds the remaining reference
        deadline = _time.time() + 30
        while _time.time() < deadline and _BASELINE_REFCOUNT.get(key) == 2:
            _time.sleep(0.25)
        assert _BASELINE_REFCOUNT.get(key) == 1
        assert baseline.storageLevel.useMemory
    finally:
        q_b.stop()
    deadline = _time.time() + 30
    while _time.time() < deadline and baseline.storageLevel.useMemory:
        _time.sleep(0.25)
    assert not baseline.storageLevel.useMemory
    assert key not in _BASELINE_REFCOUNT


def test_screen_shared_docs_shaped_baseline_refcounted(
        spark, tmp_path_factory):
    """r15 review: the refcount must key on the CALLER's object even
    when the baseline is docs-shaped — start_screen derives its own
    token_counts() DataFrame per call, so keying on the derived object
    gave two screens sharing one docs frame two private counts of 1,
    and the first termination unpersisted the shared plan-keyed cache
    entry out from under the second."""
    import time as _time

    from meeseeker_spark.streaming.screen import (_BASELINE_REFCOUNT,
                                                  start_screen)

    d = tmp_path_factory.mktemp("screen_shared_docs_baseline")
    inc_a, out_a, ck_a = d / "inc_a", d / "out_a", d / "ck_a"
    inc_b, out_b, ck_b = d / "inc_b", d / "out_b", d / "ck_b"
    os.makedirs(inc_a)
    os.makedirs(inc_b)  # stays empty: B idles until stopped
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    txt = "steady corpus text about topic one with common shared words"
    tmp = d / "w_b1"
    spark.createDataFrame([(1, txt, "en", "web", len(txt))],
                          cols).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, inc_a / "b1.parquet")

    docs_baseline = spark.createDataFrame([(1, txt)], ["doc_id", "text"])
    key = id(docs_baseline)
    q_b = start_screen(spark, str(inc_b), str(out_b), str(ck_b),
                       available_now=False, drift_baseline=docs_baseline)
    q_a = start_screen(spark, str(inc_a), str(out_a), str(ck_a),
                       drift_baseline=docs_baseline)
    try:
        # both references live under the CALLER-object key (pre-fix:
        # two derived-object keys of 1 each, and this get() was None)
        assert _BASELINE_REFCOUNT.get(key) in (1, 2)
        q_a.awaitTermination(120)
        deadline = _time.time() + 30
        while _time.time() < deadline and _BASELINE_REFCOUNT.get(key) == 2:
            _time.sleep(0.25)
        # B still holds its reference after A's listener fired
        assert _BASELINE_REFCOUNT.get(key) == 1
    finally:
        q_b.stop()
    deadline = _time.time() + 30
    while _time.time() < deadline and key in _BASELINE_REFCOUNT:
        _time.sleep(0.25)
    assert key not in _BASELINE_REFCOUNT


def test_baseline_anchor_pins_caller_object_against_id_reuse():
    """r15 second review: the refcount keys on id() of the CALLER's
    object, but start_screen rebinds its local to the derived
    token_counts frame — nothing kept the caller's object alive, so
    CPython could recycle its id for an UNRELATED later baseline and
    alias the two refcounts (the second screen's termination then
    leaked the first's persisted cache forever).  The acquire path must
    hold a strong reference for exactly the refcounted lifetime."""
    import gc
    import weakref

    from meeseeker_spark.streaming.screen import (_BASELINE_ANCHOR,
                                                  _BASELINE_REFCOUNT,
                                                  _baseline_acquire,
                                                  _baseline_release)

    class Sentinel:  # weakref-able stand-in for the caller's DataFrame
        pass

    obj = Sentinel()
    ref = weakref.ref(obj)
    key = id(obj)
    _baseline_acquire(key, obj)
    _baseline_acquire(key, obj)      # second sharing screen
    del obj                           # caller drops its reference
    gc.collect()
    # the anchor keeps the identity alive → the id CANNOT be recycled
    assert ref() is not None and _BASELINE_ANCHOR[key] is ref()
    assert _baseline_release(key) == 1
    assert ref() is not None          # still pinned: one screen live
    assert _baseline_release(key) == 0
    gc.collect()
    assert ref() is None              # released with the last reference
    assert key not in _BASELINE_REFCOUNT and key not in _BASELINE_ANCHOR


def test_screen_failed_start_releases_baseline_reference(
        spark, tmp_path_factory, monkeypatch):
    """Regression (ADVICE r12): the baseline reference is taken BEFORE
    writer.start() — so a sibling screen terminating mid-start can no
    longer hit 0 and unpersist the cache this screen is about to use —
    and a FAILED start releases that reference (the r12 no-sticky-count
    property, now via release instead of never-acquire).  Two pins:
    (a) solo failed start → no refcount entry left, baseline
    unpersisted; (b) failed start while a sibling holds a reference →
    count returns to the sibling's 1 and the cache survives (the old
    'shared?' probe read the count before a sibling's increment and
    could unpersist a live sibling's baseline)."""
    from pyspark.sql.streaming import DataStreamWriter

    from meeseeker_spark.ext.drift import token_counts
    from meeseeker_spark.streaming.screen import (_BASELINE_REFCOUNT,
                                                  start_screen)

    d = tmp_path_factory.mktemp("screen_failed_start")
    os.makedirs(d / "inc")
    baseline = token_counts(spark.createDataFrame(
        [(1, "words in the baseline corpus")], ["doc_id", "text"]))
    key = id(baseline)

    def boom(self, *a, **k):
        raise RuntimeError("injected start failure")

    monkeypatch.setattr(DataStreamWriter, "start", boom)

    # (a) solo: failed start leaves no sticky count and unpersists
    with pytest.raises(RuntimeError, match="injected"):
        start_screen(spark, str(d / "inc"), str(d / "out"), str(d / "ck"),
                     drift_baseline=baseline)
    assert key not in _BASELINE_REFCOUNT
    assert not baseline.storageLevel.useMemory

    # (b) a live sibling's reference: failed start must NOT unpersist
    baseline.persist()
    _BASELINE_REFCOUNT[key] = 1
    try:
        with pytest.raises(RuntimeError, match="injected"):
            start_screen(spark, str(d / "inc"), str(d / "out2"),
                         str(d / "ck2"), drift_baseline=baseline)
        assert _BASELINE_REFCOUNT.get(key) == 1
        assert baseline.storageLevel.useMemory
    finally:
        _BASELINE_REFCOUNT.pop(key, None)
        baseline.unpersist()


def test_replay_screen_custom_bloom_sizing(spark, monkeypatch):
    """ADVICE r11: replay_screen accepts bloom_m_bits/bloom_k and
    threads them into the bitmap build AND the prescreen probe (a
    screen started at custom sizing is replayable at matching sizing).
    Decisions are sizing-invariant (maybe-hits exact-verify against the
    fingerprint index), so the pin is on the threading itself."""
    from meeseeker_spark.ext import sketch as _sk
    from meeseeker_spark.streaming import screen as _scr

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    t1 = "first unique document text about mountain rivers and stones"
    t2 = "second unique document text concerning desert winds entirely"
    t3 = "third fresh document text on coastal tides and salty air"
    b0 = spark.createDataFrame(
        [(1, t1, "en", "web", len(t1)), (2, t2, "en", "web", len(t2))],
        cols)
    b1 = spark.createDataFrame(
        [(11, t1, "en", "web", len(t1)), (3, t3, "en", "web", len(t3))],
        cols)

    seen_sizes = []

    real_bitmap, real_prescreen = _sk.bloom_bitmap, _sk.exact_prescreen

    def spy_bitmap(df, col, m_bits=8192, k=5):
        seen_sizes.append(("bitmap", m_bits, k))
        return real_bitmap(df, col, m_bits=m_bits, k=k)

    def spy_prescreen(batch, fpx, bloom, m_bits=8192, k=5):
        seen_sizes.append(("prescreen", m_bits, k))
        return real_prescreen(batch, fpx, bloom, m_bits=m_bits, k=k)

    monkeypatch.setattr(_scr, "bloom_bitmap", spy_bitmap)
    monkeypatch.setattr(_scr, "exact_prescreen", spy_prescreen)

    out = _scr.replay_screen([b0, b1], exact_index=True,
                             bloom_m_bits=1024, bloom_k=3)
    rows = {(r["batch_id"], r["doc_id"]): (r["status"], r["corpus_id"])
            for r in out.collect()}
    assert seen_sizes == [("bitmap", 1024, 3), ("prescreen", 1024, 3)]
    assert rows[(0, 1)] == ("admitted", None)
    assert rows[(0, 2)] == ("admitted", None)
    assert rows[(1, 11)] == ("exact", 1)
    assert rows[(1, 3)] == ("admitted", None)


def test_engine_resume_tip_age_session_tz_independent(spark,
                                                      tmp_path_factory):
    """Regression (r12 review): to_timestamp parses the engine's UTC ISO
    timestamp as SESSION-LOCAL wall time, so a vanilla non-UTC session
    (the driver's own shape) skewed the tip age by the tz offset —
    enough to flip the fresh-sync decision near the TTL boundary.  The
    age is now derived from the max ISO STRING (lexicographic =
    chronological) parsed in Python as the naive UTC it is, so the
    decision must be identical under any session timezone."""
    import datetime as dt

    from meeseeker_spark.schemas import ENGINE_BLOCKS
    from meeseeker_spark.streaming.pipeline import (
        resolve_engine_stream_start)

    d = tmp_path_factory.mktemp("engine_tz_resume")
    blocks = spark.createDataFrame(
        [(100, "2020-01-01T00:00:00", [], [])], schema=ENGINE_BLOCKS)
    blocks.write.parquet(str(d / "engine"))
    # an existing HWM, so the decision hinges purely on tip age
    from meeseeker_spark.manifest import ManifestStore
    ops_path = str(d / "ops")
    ManifestStore(spark, ops_path + "_meta").append(spark.createDataFrame(
        [("hive_engine", 90, 0)],
        "chain string, last_block_num bigint, batch_id bigint"), 0)

    # 2h-stale tip, 1h ttl → fresh sync at tip+1; a -4h session-tz skew
    # under the old parse clamps the age to 0 → wrong resume-at-91
    now = dt.datetime(2020, 1, 1, 2, 0, 0)
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            dec = resolve_engine_stream_start(
                spark, str(d / "engine"), ops_path, ttl_s=3600, now=now)
            assert (dec.start_block, dec.fresh_sync) == (101, True), tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_last_block_num_empty_meta_dir_is_none(spark, tmp_path_factory):
    """Regression (r12 review): a crash can leave <ops>_meta existing
    with no committed manifest version (its first commit crashed after
    staging); the HWM probe must report None (no high-water mark), not
    raise."""
    import os as _os

    from meeseeker_spark.streaming.pipeline import last_block_num

    d = tmp_path_factory.mktemp("empty_meta")
    ops_path = str(d / "ops")
    _os.makedirs(ops_path + "_meta")
    assert last_block_num(spark, ops_path) is None
    _os.makedirs(os.path.join(ops_path + "_meta", "_manifest"))
    _os.makedirs(os.path.join(ops_path + "_meta", "data", "commit-x"))
    assert last_block_num(spark, ops_path) is None


def test_compact_meta_folds_hwm(spark, fx, tmp_path_factory):
    """r14 review: the _meta HWM store appends one row per micro-batch
    (replay idempotence) while the reference overwrites ONE key per
    chain (block_follower_job.rb:78,111) — a long-running stream's
    max-probe cost grows with stream AGE.  compact_meta folds it to one
    row per chain: the HWM answer is identical before and after, a
    second run is a no-op, and the replayable batch-id tail survives so
    the newest trigger's checkpointed replay still short-circuits
    instead of doubling rows."""
    from meeseeker_spark.manifest import ManifestStore

    d = tmp_path_factory.mktemp("compact_meta")
    _write_batches(fx.blocks, "blocks", str(d / "blocks"), 3)
    ops = P.streaming_ops(
        P.read_block_stream(spark, str(d / "blocks"),
                            max_files_per_trigger=1), None)
    q = P.start_ingest(ops, str(d / "ops"), str(d / "channels"),
                       str(d / "ckpt"))
    q.awaitTermination(120)

    meta = str(d / "ops") + "_meta"
    ms = ManifestStore(spark, meta)
    hwm_before = P.last_block_num(spark, str(d / "ops"))
    assert hwm_before is not None
    assert ms.df().count() >= 3                   # one per trigger

    n = P.compact_meta(spark, str(d / "ops"))
    assert n >= 2
    assert P.last_block_num(spark, str(d / "ops")) == hwm_before
    folded = ms.df().collect()
    assert len(folded) == 1                       # one chain in the fixture
    assert folded[0]["last_block_num"] == hwm_before
    assert P.compact_meta(spark, str(d / "ops")) == 0   # already compact

    assert len(ms.files()) == 1
    ids = ms.committed_batch_ids()
    assert ids and ids == {i for i in ids if i >= max(ids) - 1}

    # replay of the NEWEST trigger after compaction: delete its
    # checkpoint commit marker and restart — the HWM answer must not
    # change and the store must not double
    commits = sorted(int(x) for x in os.listdir(d / "ckpt" / "commits")
                     if x.isdigit())
    os.remove(d / "ckpt" / "commits" / str(commits[-1]))
    crc = d / "ckpt" / "commits" / f".{commits[-1]}.crc"
    if crc.exists():
        os.remove(crc)
    q = P.start_ingest(
        P.streaming_ops(
            P.read_block_stream(spark, str(d / "blocks"),
                                max_files_per_trigger=1), None),
        str(d / "ops"), str(d / "channels"), str(d / "ckpt"))
    q.awaitTermination(120)
    assert P.last_block_num(spark, str(d / "ops")) == hwm_before
    assert ms.df().count() == 1                   # the replay short-circuited


def _publish_one_per_trigger(spark, d):
    """Publish every fixture schedule, one file (= one trigger, one
    manifest commit) each, into ``d/out`` with checkpoint ``d/ckpt``."""
    q = P.start_schedule_publisher(
        P.read_schedule_stream(spark, str(d / "in"),
                               max_files_per_trigger=1),
        str(d / "out"), str(d / "ckpt"))
    q.awaitTermination(120)


def test_compact_schedule_log(spark, fx, tmp_path_factory):
    """r14: the schedule publish log accumulates one commit per trigger
    (~500k/year at round cadence) — ``compact --schedules`` folds it to
    one file in place.  The ScheduleStore answers identically before and
    after, the batch-id tail is kept for a replay of the newest trigger,
    and a second run is a no-op."""
    from meeseeker_spark.__main__ import main
    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.query import ScheduleStore

    d = tmp_path_factory.mktemp("sched_fold")
    _write_batches(fx.witness_schedules, "witness_schedules",
                   str(d / "in"), len(fx.witness_schedules))
    _publish_one_per_trigger(spark, d)
    out = str(d / "out")
    ms = ManifestStore(spark, out)
    n_files = len(ms.files())
    assert n_files >= 2
    before = sorted(tuple(r) for r in ScheduleStore(spark, out).df().collect())
    assert len(before) == len(fx.witness_schedules)

    args = ["compact", "--ops", str(d / "no_ops"), "--schedules", out]
    assert main(args) == 0
    assert len(ms.files()) == 1
    ids = ms.committed_batch_ids()
    assert ids and ids == {i for i in ids if i >= max(ids) - 1}
    after = sorted(tuple(r) for r in ScheduleStore(spark, out).df().collect())
    assert after == before
    v = ms.current_version()
    assert main(args) == 0                        # already compact
    assert ms.current_version() == v


def test_compact_schedule_log_replay_survival(spark, fx, tmp_path_factory):
    """ADVICE r14 (high), end-to-end: compact --schedules, then a
    same-checkpoint replay of the NEWEST trigger (delete its commit
    marker, restart the publisher — the crash-after-write,
    before-checkpoint-commit window).  The replay short-circuits on its
    recorded batch id (compaction keeps the replayable tail), so no
    manifest version is added and the store answers identically."""
    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.query import ScheduleStore

    d = tmp_path_factory.mktemp("sched_replay")
    _write_batches(fx.witness_schedules, "witness_schedules",
                   str(d / "in"), len(fx.witness_schedules))
    _publish_one_per_trigger(spark, d)
    out = str(d / "out")
    ms = ManifestStore(spark, out)
    assert len(ms.files()) >= 3
    before = sorted(tuple(r) for r in ScheduleStore(spark, out).df().collect())

    assert ms.compact() >= 3
    v = ms.current_version()
    commits = sorted(int(x) for x in os.listdir(d / "ckpt" / "commits")
                     if x.isdigit())
    assert commits[-1] in ms.committed_batch_ids()
    os.remove(d / "ckpt" / "commits" / str(commits[-1]))
    crc = d / "ckpt" / "commits" / f".{commits[-1]}.crc"
    if crc.exists():
        os.remove(crc)
    _publish_one_per_trigger(spark, d)
    assert ms.current_version() == v              # replay short-circuited
    assert (sorted(tuple(r) for r in
                   ScheduleStore(spark, out).df().collect()) == before)


def test_compact_schedule_log_fold_is_deterministic(
        spark, fx, tmp_path_factory):
    """r15 review: compaction must keep the same newest-batch survivor
    as ScheduleStore's reader when a republished duplicate carries a
    DIVERGENT payload — the folded file keeps every row's physical
    ``batch_id``, so the reader's newest_by_key still sees the
    precedence.  The stale payload here sorts HIGHEST in raw payload
    order, so only batch-id precedence passes."""
    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.query import ScheduleStore

    d = tmp_path_factory.mktemp("sched_fold_det")
    out = str(d / "out")
    fresh = fx.witness_schedules[0]
    stale = dict(fresh)
    stale["current_shuffled_witnesses"] = ["zzz_replaced"]
    other = fx.witness_schedules[1]
    ms = ManifestStore(spark, out)
    cols = ["id", "next_shuffle_block_num", "current_shuffled_witnesses"]
    for batch_id, row in ((0, stale), (5, fresh), (9, other)):
        ms.append(spark.createDataFrame(
            [tuple(row[c] for c in cols) + (batch_id,)],
            "id bigint, next_shuffle_block_num bigint, "
            "current_shuffled_witnesses array<string>, batch_id int"),
            batch_id)

    key = fresh["next_shuffle_block_num"]
    before = {r["block_num"]: r["value"]
              for r in ScheduleStore(spark, out).df().collect()}
    assert "zzz_replaced" not in before[key]      # reader: newest wins

    assert ms.compact(sort_cols=("next_shuffle_block_num",)) >= 3
    assert len(ms.files()) == 1
    after = {r["block_num"]: r["value"]
             for r in ScheduleStore(spark, out).df().collect()}
    assert after == before                        # fold flipped nothing
    assert "zzz_replaced" not in after[key]


def test_schedule_log_crash_before_commit_leaves_no_row(
        spark, fx, tmp_path_factory, monkeypatch):
    """A publisher trigger that dies after staging its files but before
    the manifest commit leaves nothing visible: ScheduleStore reads
    empty, a restart on the same checkpoint replays the batch and
    publishes every schedule exactly once, and gc reclaims the crashed
    attempt's orphan files."""
    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.query import ScheduleStore

    d = tmp_path_factory.mktemp("sched_crash")
    _write_batches(fx.witness_schedules, "witness_schedules",
                   str(d / "in"), 1)
    out = str(d / "out")

    def boom(self, *a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(ManifestStore, "_commit", boom)
    with pytest.raises(Exception, match="injected crash"):
        _publish_one_per_trigger(spark, d)
    monkeypatch.undo()
    assert ScheduleStore(spark, out).df().count() == 0
    staged = glob.glob(os.path.join(out, "data", "*", "*.parquet"))
    assert staged                                  # the orphan exists

    _publish_one_per_trigger(spark, d)         # same checkpoint
    got = ScheduleStore(spark, out).df().collect()
    assert (sorted(r["block_num"] for r in got)
            == sorted(s["next_shuffle_block_num"]
                      for s in fx.witness_schedules))
    ms = ManifestStore(spark, out)
    assert ms.current_version() == 1
    assert ms.gc() == len(staged)
    assert ScheduleStore(spark, out).df().count() == len(got)


def test_screen_marker_torn_and_stream_identity(spark, tmp_path_factory):
    """r15 runtime review, two marker guards: (a) a torn layout marker
    stops with the recovery menu instead of a raw JSONDecodeError; (b) a
    DIFFERENT established checkpoint pointed at this out_dir is refused
    (its batch ids and offsets are inconsistent with the store); a
    FRESH checkpoint instead proceeds as the documented full-replay
    recovery (test_streaming_dedup_screen's wipe drill) with a loud
    stderr warning.  A restart on the ORIGINAL checkpoint proceeds
    silently (the marker carries the producing stream's id)."""
    import json as _json

    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen_identity")
    inc = d / "incoming"
    os.makedirs(inc)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    txt = "steady corpus text about topic one with common shared words"
    tmp = d / "w"
    spark.createDataFrame([(1, txt, "en", "web", len(txt))],
                          cols).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, inc / "b1.parquet")

    q = start_screen(spark, str(inc), str(d / "out"), str(d / "ckpt"))
    q.awaitTermination(120)
    marker = d / "out" / "_index_layout.json"
    rec = _json.loads(marker.read_text())
    assert rec.get("stream_id")          # stamped after the first start

    # (b) fresh checkpoint over the populated store → proceeds as a
    # full replay (the documented recovery; warning goes to stderr) and
    # converges to the same store on unchanged input
    pre = {r["doc_id"] for r in
           spark.read.parquet(str(d / "out" / "corpus")).collect()}
    q_replay = start_screen(spark, str(inc), str(d / "out"),
                            str(d / "ckpt2"))
    q_replay.awaitTermination(120)
    post = {r["doc_id"] for r in
            spark.read.parquet(str(d / "out" / "corpus")).collect()}
    assert post == pre
    # the replay stamped ITS id; restore the original stream's marker
    # so the checks below run against the first checkpoint's identity
    rec = _json.loads(marker.read_text())
    # original checkpoint now mismatches the replay's stamp → refused
    with pytest.raises(RuntimeError, match="different stream"):
        start_screen(spark, str(inc), str(d / "out"), str(d / "ckpt"))
    # its own (replay) checkpoint restarts fine
    q2 = start_screen(spark, str(inc), str(d / "out"), str(d / "ckpt2"))
    q2.awaitTermination(120)

    # a marker stamped by a DIFFERENT stream also refuses
    other = dict(rec, stream_id="00000000-0000-0000-0000-000000000000")
    marker.write_text(_json.dumps(other))
    with pytest.raises(RuntimeError, match="different stream"):
        start_screen(spark, str(inc), str(d / "out"), str(d / "ckpt2"))
    marker.write_text(_json.dumps(rec))

    # (a) torn marker → recovery menu, not JSONDecodeError
    marker.write_text('{"index_table": null, "exa')
    with pytest.raises(RuntimeError, match="torn by a crash"):
        start_screen(spark, str(inc), str(d / "out"), str(d / "ckpt2"))


def test_rebuild_exact_index_resize_is_two_phase(spark,
                                                 tmp_path_factory):
    """r15 runtime review: a bloom RESIZE crash-window used to leave
    marker sizing consistent with SOME bitmaps — the sizing-mismatch
    guard then structurally could not fire and exact dups were
    admitted.  The resize now declares bloom_rebuild_target first;
    start_screen refuses mid-resize; a default-sizing re-run ADOPTS the
    target and finishes."""
    import json as _json

    from meeseeker_spark.streaming.screen import (rebuild_exact_index,
                                                  start_screen)

    d = tmp_path_factory.mktemp("resize2phase")
    inc = d / "incoming"
    os.makedirs(inc)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tmp = d / "w"
    spark.createDataFrame([(1, txt, "en", "web", len(txt))],
                          cols).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.rename(tmp / part, inc / "b1.parquet")
    q = start_screen(spark, str(inc), str(d / "out"), str(d / "ckpt"),
                     exact_index=True)
    q.awaitTermination(120)

    marker = d / "out" / "_index_layout.json"
    rec = _json.loads(marker.read_text())
    assert rec["bloom_m_bits"] == 8192

    # simulate the crash window: phase-1 marker landed, bitmaps did not
    rec["bloom_rebuild_target"] = {"m_bits": 16384, "k": 7}
    marker.write_text(_json.dumps(rec))
    with pytest.raises(RuntimeError, match="UNFINISHED bloom resize"):
        start_screen(spark, str(inc), str(d / "out"), str(d / "ckpt"),
                     exact_index=True)
    # a default-sizing re-run adopts and completes the declared target
    rebuild_exact_index(spark, str(d / "out"))
    rec2 = _json.loads(marker.read_text())
    assert "bloom_rebuild_target" not in rec2
    assert (rec2["bloom_m_bits"], rec2["bloom_k"]) == (16384, 7)
    # and the screen restarts at the new sizing
    q2 = start_screen(spark, str(inc), str(d / "out"), str(d / "ckpt"),
                      exact_index=True, bloom_m_bits=16384, bloom_k=7)
    q2.awaitTermination(120)


def test_screen_empty_band_index_falls_back_to_corpus(spark,
                                                      tmp_path_factory):
    """r15 runtime review: an EMPTY band index beside a non-empty corpus
    (the window of a concurrent rebuild_band_index overwrite, or a
    crashed index write) used to generate zero candidates — near-dups
    of corpus docs were silently admitted and the checkpoint committed
    the loss.  The screen now treats empty-bands as bands=None and
    recomputes the projection from the corpus text."""
    import time as _time

    from meeseeker_spark.streaming.screen import start_screen

    d = tmp_path_factory.mktemp("screen_emptybands")
    incoming, out, ckpt = d / "incoming", d / "out", d / "ckpt"
    os.makedirs(incoming)
    TBL = "screen_empty_band_index_test"
    spark.sql(f"DROP TABLE IF EXISTS {TBL}")
    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm stone wall near the garden gate")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def drop(name, rows):
        tmp = d / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(tmp / part, incoming / f"{name}.parquet")

    try:
        drop("b1", [(1, base, "en", "web", len(base))])
        q = start_screen(spark, str(incoming), str(out), str(ckpt),
                         index_table=TBL)
        q.awaitTermination(120)
        # simulate the rebuild window: table exists but holds no rows
        spark.sql(f"TRUNCATE TABLE {TBL}")
        assert spark.table(TBL).count() == 0
        _time.sleep(1.1)
        drop("b2", [(10, base.replace("warm", "cold"), "en", "web", 100)])
        q = start_screen(spark, str(incoming), str(out), str(ckpt),
                         index_table=TBL)
        q.awaitTermination(120)
        flagged = {(r["new_id"], r["corpus_id"]) for r in
                   spark.read.parquet(str(out / "flagged")).collect()}
        assert (10, 1) in flagged         # near-dup still caught
        corpus = {r["doc_id"] for r in
                  spark.read.parquet(str(out / "corpus")).collect()}
        assert corpus == {1}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TBL}")
