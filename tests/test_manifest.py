"""ManifestStore: atomic manifest commits subsume the rename-dance
protocols — crash injection at every window, idempotent batch appends,
file-level TTL rewrite, GC of orphans."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from meeseeker_spark.manifest import ManifestStore


def _rows(spark, ids, ingested=None):
    df = spark.createDataFrame([(i, f"v{i}") for i in ids], "id bigint, v string")
    if ingested is not None:
        df = df.withColumn("ingested_at", F.lit(ingested))
    return df


def test_append_and_read(spark, tmp_path):
    s = ManifestStore(spark, str(tmp_path / "m"))
    assert s.current_version() is None
    with pytest.raises(FileNotFoundError):
        s.df()
    s.append(_rows(spark, [1, 2]))
    s.append(_rows(spark, [3]))
    assert s.current_version() == 2
    assert {r["id"] for r in s.df().collect()} == {1, 2, 3}


def test_batch_id_idempotence(spark, tmp_path):
    """The foreachBatch retry contract: a replayed batch id is a no-op."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    assert s.append(_rows(spark, [1, 2]), batch_id=0) is True
    assert s.append(_rows(spark, [1, 2]), batch_id=0) is False   # retry
    assert s.append(_rows(spark, [3]), batch_id=1) is True
    assert sorted(r["id"] for r in s.df().collect()) == [1, 2, 3]
    assert s.committed_batch_ids() == {0, 1}


def test_crash_before_commit_is_invisible(spark, tmp_path):
    """Staged-but-uncommitted data files never reach readers; gc removes
    them without touching referenced data."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    s.append(_rows(spark, [1]))
    # simulate a writer that crashed after staging, before the manifest
    # rename: stage directly and do NOT commit
    orphan = s._stage(_rows(spark, [99]))
    assert orphan
    assert sorted(r["id"] for r in s.df().collect()) == [1]
    deleted = s.gc()
    assert deleted >= len(orphan)
    assert sorted(r["id"] for r in s.df().collect()) == [1]
    # the orphan is physically gone
    for f in orphan:
        assert not os.path.exists(os.path.join(s.path, f))


def test_crash_leaves_no_intermediate_state(spark, tmp_path):
    """There is no recovery protocol because there is no intermediate
    state: a half-written manifest tmp file is ignored by version
    discovery and cleaned by gc."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    s.append(_rows(spark, [1, 2]))
    tmp = os.path.join(s.path, "_manifest", ".tmp-deadbeef.json")
    with open(tmp, "w") as f:
        f.write('{"version": 99, "files": ["data/ghost.parquet"]')  # torn
    assert s.current_version() == 1
    assert sorted(r["id"] for r in s.df().collect()) == [1, 2]
    s.gc()
    assert not os.path.exists(tmp)


def test_expire_rewrites_only_hot_files(spark, tmp_path):
    """TTL retention rewrites ONLY files containing expired rows; every
    other committed file is re-referenced byte-identically."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    old_ts = dt.datetime(2020, 1, 1)
    new_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    s.append(_rows(spark, [1, 2], ingested=old_ts).coalesce(1))   # all-stale
    s.append(_rows(spark, [3, 4], ingested=new_ts).coalesce(1))   # all-live
    cold = [f for f in s.files()
            if {r["id"] for r in
                spark.read.parquet(os.path.join(s.path, f)).collect()}
            == {3, 4}]
    assert len(cold) == 1
    before = open(os.path.join(s.path, cold[0]), "rb").read()

    removed = s.expire(ttl_s=86_400)
    assert removed == 2
    assert sorted(r["id"] for r in s.df().collect()) == [3, 4]
    # untouched file re-referenced, not rewritten
    assert cold[0] in s.files()
    assert open(os.path.join(s.path, cold[0]), "rb").read() == before
    # expiring again is a no-op
    assert s.expire(ttl_s=86_400) == 0
    # -1 disables expiry
    assert s.expire(ttl_s=-1) == 0


def test_expire_mixed_file_keeps_live_rows(spark, tmp_path):
    s = ManifestStore(spark, str(tmp_path / "m"))
    old_ts = dt.datetime(2020, 1, 1)
    new_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    mixed = _rows(spark, [1, 2], ingested=old_ts).unionByName(
        _rows(spark, [3], ingested=new_ts)).coalesce(1)
    s.append(mixed)
    assert s.expire(ttl_s=86_400) == 2
    assert sorted(r["id"] for r in s.df().collect()) == [3]


def test_null_ingested_never_expires(spark, tmp_path):
    s = ManifestStore(spark, str(tmp_path / "m"))
    df = _rows(spark, [1]).withColumn(
        "ingested_at", F.lit(None).cast("timestamp")).unionByName(
        _rows(spark, [2], ingested=dt.datetime(2020, 1, 1)))
    s.append(df.coalesce(1))
    assert s.expire(ttl_s=86_400) == 1
    assert sorted(r["id"] for r in s.df().collect()) == [1]


def test_gc_keeps_version_tail(spark, tmp_path):
    s = ManifestStore(spark, str(tmp_path / "m"))
    s.append(_rows(spark, [1]))
    s.overwrite(_rows(spark, [2]))
    v1_files = set(json.load(open(
        os.path.join(s.path, "_manifest", "v1.json")))["files"])
    assert s.current_version() == 2
    # keep 2 versions: v1's files survive gc
    assert s.gc(keep_versions=2) == 0
    for f in v1_files:
        assert os.path.exists(os.path.join(s.path, f))
    # keep only the newest: v1's files (not referenced by v2) are deleted
    assert s.gc(keep_versions=1) == len(v1_files)
    for f in v1_files:
        assert not os.path.exists(os.path.join(s.path, f))
    assert sorted(r["id"] for r in s.df().collect()) == [2]


def test_concurrent_commit_collides_loudly(spark, tmp_path):
    """A writer holding a stale version view collides on the v{N} link
    target and raises instead of silently clobbering the other commit.
    base_version is the CALLER's read — no monkeypatch needed since the
    r13 compare-and-swap (commit targets base+1, never current+1)."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    s.append(_rows(spark, [1]))
    s.append(_rows(spark, [2]))                     # v2 committed
    with pytest.raises(RuntimeError, match="concurrent"):
        s._commit(["data/x.parquet"], [], 1)        # stale base → v2 exists


def test_interleaved_append_raises_instead_of_lost_update(spark, tmp_path):
    """THE lost-update race (ADVICE r12): writer A reads the manifest,
    writer B commits while A's Spark stage runs, then A commits.  Before
    the compare-and-swap, A's _commit recomputed prev at link time and
    linked v(N+2) built from A's stale v(N) file list — silently dropping
    B's commit.  Now A targets v(base+1), collides on B's manifest, and
    raises; B's rows survive."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    s.append(_rows(spark, [1]), batch_id=0)         # v1
    # writer A: reads at v1, stages
    m_a = s._read_manifest()
    staged_a = s._stage(_rows(spark, [10]))
    # writer B interleaves: a full append commits v2
    assert s.append(_rows(spark, [2]), batch_id=1)
    # writer A commits against its stale base → must raise, not win
    with pytest.raises(RuntimeError, match="concurrent"):
        s._commit(m_a["files"] + staged_a, m_a["batch_ids"] + [2],
                  m_a["version"])
    # B's commit is intact: both its rows and its batch id survive
    assert sorted(r["id"] for r in s.df().collect()) == [1, 2]
    assert s.committed_batch_ids() == {0, 1}
    assert s.current_version() == 2


def test_streaming_sink_replay_exactly_once(spark, tmp_path):
    """The manifest sink in a real Structured Streaming replay: wipe the
    checkpoint so every batch re-fires — recorded batch ids make the
    re-delivery a no-op (the dir-overwrite scheme's guarantee, now one
    manifest line)."""
    import shutil

    incoming = tmp_path / "in"
    os.makedirs(incoming)
    for b in range(3):
        _rows(spark, [b * 10, b * 10 + 1]).coalesce(1).write.parquet(
            str(incoming / f"f{b}"))
    # move part files up so the file source sees three separate files
    for b in range(3):
        src = next(p for p in os.listdir(incoming / f"f{b}")
                   if p.endswith(".parquet"))
        os.rename(incoming / f"f{b}" / src, incoming / f"b{b}.parquet")
        shutil.rmtree(incoming / f"f{b}")

    s = ManifestStore(spark, str(tmp_path / "m"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (spark.readStream.schema("id bigint, v string")
             .option("maxFilesPerTrigger", 1).parquet(str(incoming))
             .writeStream.foreachBatch(s.sink())
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    want = sorted(r["id"] for r in s.df().collect())
    assert len(want) == 6
    n_versions = s.current_version()

    shutil.rmtree(ckpt)          # full replay: all batches re-fire
    run()
    assert sorted(r["id"] for r in s.df().collect()) == want
    assert s.current_version() == n_versions   # every replay short-circuited


def test_compact_folds_commits(spark, tmp_path):
    s = ManifestStore(spark, str(tmp_path / "m"))
    for b in range(4):
        s.append(_rows(spark, [b]).coalesce(1), batch_id=b)
    assert len(s.files()) == 4
    folded = s.compact(sort_cols=("id", "missing_col_is_skipped"))
    assert folded == 4
    assert sorted(r["id"] for r in s.df().collect()) == [0, 1, 2, 3]
    # r14: compaction prunes the recorded ids to the replayable tail
    # {max-1, max} — the list otherwise grows one int per trigger
    # forever, rewritten into the manifest json on every commit.  Only
    # the newest trigger can replay (trigger N+1 runs only after
    # checkpoint commit N), so the tail keeps idempotence where it can
    # still matter:
    assert s.committed_batch_ids() == {2, 3}
    assert s.append(_rows(spark, [99]), batch_id=3) is False   # replay
    assert sorted(r["id"] for r in s.df().collect()) == [0, 1, 2, 3]
    s.gc()
    assert len(s.files()) == 1        # 4 trigger-sized files → one bin
    assert s.compact() == 0           # single file: nothing to fold


def test_cli_expire_manifest_store(spark, tmp_path, capsys):
    import datetime as ddt

    from meeseeker_spark.__main__ import main

    old = ddt.datetime(2020, 1, 1)
    m = ManifestStore(spark, str(tmp_path / "mstore"))
    m.append(_rows(spark, [1], ingested=old).withColumn(
        "block_num", F.lit(7)).coalesce(1))
    m.append(_rows(spark, [2]).withColumn(
        "ingested_at", F.current_timestamp())
        .withColumn("block_num", F.lit(8)).coalesce(1))
    assert main(["expire", "--store", str(tmp_path / "mstore"),
                 "--gc"]) == 0
    assert "expired 1 rows" in capsys.readouterr().out
    assert sorted(r["id"] for r in m.df().collect()) == [2]


def test_gc_survives_version_gap(spark, tmp_path):
    """gc(keep_versions=K) after an earlier gc already dropped older
    manifest json must skip the gap, not crash (review r4)."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    for b in range(3):
        s.append(_rows(spark, [b]), batch_id=b)      # v1..v3
    s.gc(keep_versions=1)                            # drops v1, v2 json
    assert s.gc(keep_versions=2) >= 0                # window spans the gap
    assert sorted(r["id"] for r in s.df().collect()) == [0, 1, 2]


def test_manifest_random_op_sequences(spark, tmp_path_factory):
    """Property test: any interleaving of append / replayed-append /
    expire / compact / gc leaves the store exactly equal to a trivial
    in-memory model, and every manifest-referenced file on disk."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    OLD = dt.datetime(2020, 1, 1)
    NEW = dt.datetime(2030, 5, 31, 12)      # inside ttl of NOW
    NOW = dt.datetime(2030, 6, 1)

    op = st.one_of(
        st.tuples(st.just("append"),
                  st.lists(st.integers(0, 20), min_size=1, max_size=4),
                  st.integers(0, 3)),
        st.tuples(st.just("replay"), st.integers(0, 3), st.just(0)),
        st.tuples(st.just("expire"), st.just(0), st.just(0)),
        st.tuples(st.just("gc"), st.integers(1, 3), st.just(0)),
        st.tuples(st.just("compact"), st.just(0), st.just(0)),
    )

    @settings(max_examples=5, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(ops=st.lists(op, min_size=2, max_size=6))
    def run(ops):
        root = tmp_path_factory.mktemp("mprop")
        s = ManifestStore(spark, str(root / "m"))
        model: Counter = Counter()
        batches: dict[int, list[int]] = {}

        def mk(ids):
            rows = [(i, f"v{i}", OLD if i % 2 else NEW) for i in ids]
            return spark.createDataFrame(
                rows, "id bigint, v string, ingested_at timestamp")

        for kind, a, b in ops:
            if kind == "append":
                if a and b not in batches:
                    s.append(mk(a), batch_id=b)
                    batches[b] = a
                    model.update((i, OLD if i % 2 else NEW) for i in a)
            elif kind == "replay":
                if a in batches:      # re-delivery must be a no-op
                    assert s.append(mk(batches[a]), batch_id=a) is False
            elif kind == "expire":
                removed = s.expire(ttl_s=86_400, now=NOW)
                want_removed = sum(n for (i, ts), n in model.items()
                                   if ts == OLD)
                assert removed == want_removed
                model = Counter({k: n for k, n in model.items()
                                 if k[1] != OLD})
            elif kind == "gc":
                s.gc(keep_versions=a)
            elif kind == "compact":
                s.compact(sort_cols=("id",))
            # invariant 1: store == model
            got = (Counter((r["id"], r["ingested_at"])
                           for r in s.df().collect())
                   if model else Counter())
            assert got == model, (kind, a, b)
            # invariant 2: every referenced file exists
            for f in s.files():
                assert os.path.exists(os.path.join(s.path, f)), f

    run()


def test_time_travel_reads(spark, tmp_path):
    """df(version=N) reads the immutable snapshot, versions() lists the
    horizon, and corpus_diff across two store versions reports exactly
    what an overwrite changed."""
    from meeseeker_spark.ext.diff import corpus_diff

    s = ManifestStore(spark, str(tmp_path / "m"))
    s.append(spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id bigint, text string"))      # v1
    s.append(spark.createDataFrame(
        [(3, "three")], "doc_id bigint, text string"))                # v2
    s.overwrite(spark.createDataFrame(
        [(1, "one"), (3, "three EDITED")],
        "doc_id bigint, text string"))                                # v3
    assert s.versions() == [1, 2, 3]
    assert {r["doc_id"] for r in s.df(version=1).collect()} == {1, 2}
    assert {r["doc_id"] for r in s.df(version=2).collect()} == {1, 2, 3}
    assert {r["doc_id"] for r in s.df().collect()} == {1, 3}
    statuses = {r["doc_id"]: r["status"]
                for r in corpus_diff(s.df(version=2), s.df()).collect()}
    assert statuses == {1: "unchanged", 2: "removed", 3: "changed"}
    with pytest.raises(FileNotFoundError):
        s.df(version=9)


def test_time_travel_horizon_after_gc(spark, tmp_path):
    """gc prunes manifests outside keep_versions: pruned versions raise
    loudly instead of silently returning partial data; kept window
    versions remain fully readable (gc retains their files)."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    for i in range(4):
        s.append(_rows(spark, [i]))                # v1..v4
    s.overwrite(_rows(spark, [99]))                # v5 drops v1-v4 files
    s.gc(keep_versions=2)
    assert s.versions() == [4, 5]
    with pytest.raises(FileNotFoundError):
        s.df(version=2)
    # v4 is inside the kept window: its files survived gc
    assert sorted(r["id"] for r in s.df(version=4).collect()) == [0, 1, 2, 3]
    assert [r["id"] for r in s.df().collect()] == [99]


def test_retention_api_delegates_to_manifest(spark, tmp_path):
    """ManifestStore.live_count and expire share one cutoff rule: the
    live count predicts exactly the rows expire keeps, expired rows
    leave with no .old/.tmp rename artifacts, and the committed history
    advances by exactly one version."""
    path = str(tmp_path / "m")
    s = ManifestStore(spark, path)
    now = dt.datetime(2026, 1, 2)
    s.append(_rows(spark, [1, 2], ingested=now - dt.timedelta(days=3)))
    s.append(_rows(spark, [3, 4], ingested=now))
    v_before = s.current_version()

    assert s.live_count(ttl_s=86_400, now=now) == 2
    assert s.live_count(ttl_s=-1, now=now) == 4
    removed = s.expire(ttl_s=86_400, now=now)
    assert removed == 2
    assert sorted(r["id"] for r in s.df().collect()) == [3, 4]
    assert s.live_count(ttl_s=86_400, now=now) == 2
    assert s.current_version() == v_before + 1
    assert not [d for d in os.listdir(path)
                if d.startswith((".old", ".tmp"))]
    # ttl=-1 disables expiry through the same API
    assert s.expire(ttl_s=-1, now=now) == 0


def test_commit_collision_raises_and_keeps_winner(spark, tmp_path):
    """Regression (r12 review): the version-collision guard was
    check-then-rename, and POSIX rename silently REPLACES an existing
    target — two racing writers could lose a commit.  The commit point
    is now an os.link, which fails atomically: the second committer of
    the same version must raise AND the first committer's manifest must
    survive byte-for-byte."""
    import json
    import os

    import pytest

    from meeseeker_spark.manifest import ManifestStore

    store = ManifestStore(spark, str(tmp_path / "m"))
    store.append(spark.range(3).selectExpr("id", "id * 2 AS v"),
                 batch_id=0)
    v = store.current_version()
    files = store.files()
    # simulate the race: both writers read current_version == v, the
    # winner's v{N+1} then lands first; freeze the loser's view at v so
    # its _commit targets the SAME version
    winner = os.path.join(str(tmp_path / "m"), "_manifest",
                          f"v{v + 1}.json")
    with open(winner, "w") as f:
        json.dump({"version": v + 1, "files": files,
                   "batch_ids": [0]}, f)
    before = open(winner).read()
    with pytest.raises(RuntimeError, match="concurrent writer"):
        store._commit(files, [0, 1], v)    # the loser's stale base
    assert open(winner).read() == before          # winner untouched
    # no .tmp litter left behind by the failed commit
    assert not [f for f in os.listdir(os.path.join(str(tmp_path / "m"),
                                                   "_manifest"))
                if f.startswith(".tmp-")]


# one racer per OS process: both read the SAME base manifest version,
# rendezvous on a filesystem barrier, then race the os.link CAS.  A
# subprocess (not fork) keeps the parent's JVM/py4j state out of the
# children; the child needs no SparkSession — the CAS is pure
# filesystem protocol over already-staged files.
_CAS_RACER = r"""
import os, sys, time
sys.path.insert(0, sys.argv[6])
from meeseeker_spark.manifest import ManifestStore
path, staged_csv, bid, ready_dir, tag = sys.argv[1:6]
ms = ManifestStore(None, path)
prev = ms._read_manifest()
open(os.path.join(ready_dir, tag), "w").close()
deadline = time.time() + 30
while len(os.listdir(ready_dir)) < 2:          # barrier: same base version
    if time.time() > deadline:
        sys.exit("barrier timeout")
    time.sleep(0.005)
try:
    ms._commit(prev["files"] + staged_csv.split(","),
               prev["batch_ids"] + [int(bid)], prev["version"])
    print("won")
except RuntimeError as e:
    print("lost: " + str(e)[:100])
"""


def test_manifest_cas_two_process_race(spark, tmp_path):
    """VERDICT r13 item 3: the r13 os.link compare-and-swap is contract-
    tested in-process (test_commit_collision_raises_and_keeps_winner
    freezes the loser's view by hand); prove it CROSS-PROCESS — two OS
    processes that genuinely read the same base version and race the
    link.  Exactly one must win, the loser must raise (not silently
    replace), the surviving manifest must reference only staged files
    that exist, and gc() must sweep the loser's orphaned staging."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "m")
    store = ManifestStore(spark, path)
    store.append(_rows(spark, [1, 2]), batch_id=0)
    base_v = store.current_version()

    # stage both contenders with the parent's Spark; neither is visible
    # (readers see only committed manifests) until a racer links it in
    staged_a = store._stage(_rows(spark, [10, 11]))
    staged_b = store._stage(_rows(spark, [20]))
    assert staged_a and staged_b

    ready = tmp_path / "ready"
    os.makedirs(ready)
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", _CAS_RACER, path, ",".join(staged),
             str(bid), str(ready), tag, repo],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for staged, bid, tag in ((staged_a, 1, "a"), (staged_b, 2, "b"))
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        outs.append(out.strip())
    assert sorted(o.split(":")[0] for o in outs) == ["lost", "won"]

    # exactly one commit landed: version advanced by exactly 1, and the
    # surviving manifest references the winner's files (all present on
    # disk) and none of the loser's
    survivor = ManifestStore(spark, path)
    assert survivor.current_version() == base_v + 1
    files = survivor.files()
    assert all(os.path.exists(os.path.join(path, f)) for f in files)
    a_in, b_in = set(staged_a) <= set(files), set(staged_b) <= set(files)
    assert a_in != b_in                          # one, not both, not neither
    winner_rows = {10, 11} if a_in else {20}
    assert {r["id"] for r in survivor.df().collect()} == {1, 2} | winner_rows

    # the loser's staging is an invisible orphan until gc() sweeps it —
    # the documented no-leak path (manifest.py module docstring: crashes
    # and losers only leave garbage, never corrupt references)
    loser = staged_b if a_in else staged_a
    assert all(os.path.exists(os.path.join(path, f)) for f in loser)
    survivor.gc()
    assert not any(os.path.exists(os.path.join(path, f)) for f in loser)
    assert {r["id"] for r in survivor.df().collect()} == {1, 2} | winner_rows


def test_maintenance_gc_leaves_one_version_of_grace(spark, tmp_path):
    """r15 durability review: gc fused to a maintenance commit with
    keep_versions=1 unlinked files a concurrent reader of the
    just-superseded version had already resolved.  The maintenance
    folds keep one prior version; the next pass collects it, so growth
    stays bounded."""
    from meeseeker_spark.streaming.pipeline import compact_meta

    ops = str(tmp_path / "ops")
    meta = ops + "_meta"
    s = ManifestStore(spark, meta)
    for b in range(3):
        s.append(spark.createDataFrame(
            [("hive", 100 + b)], "chain string, last_block_num long")
            .withColumn("batch_id", F.lit(b)), batch_id=b)
    pre_files = [os.path.join(meta, f) for f in s.files()]
    assert len(pre_files) > 1
    assert compact_meta(spark, meta[:-5]) == len(pre_files)
    # the superseded version's files survive the fused gc (grace)...
    assert all(os.path.exists(f) for f in pre_files)
    # ...and a later maintenance pass collects them
    s.append(spark.createDataFrame(
        [("hive", 200)], "chain string, last_block_num long")
        .withColumn("batch_id", F.lit(9)), batch_id=9)
    compact_meta(spark, meta[:-5])
    assert not any(os.path.exists(f) for f in pre_files)


# -- recorded schema ---------------------------------------------------------

@pytest.fixture(scope="module")
def sink_outputs(spark, tmp_path_factory):
    """Every chain sink's output, from two streaming triggers each: ops,
    channels and ``_meta`` from ``start_ingest``, the schedule publish
    log and the block-channel log."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from meeseeker_spark import fixtures
    from meeseeker_spark.streaming import pipeline as P

    fx = fixtures.generate(n_blocks=42, seed=3)
    root = tmp_path_factory.mktemp("sinks")
    for name, rows in (("blocks", fx.blocks),
                       ("witness_schedules", fx.witness_schedules)):
        os.makedirs(root / name)
        half = len(rows) // 2
        for i, part in enumerate((rows[:half], rows[half:])):
            pq.write_table(
                pa.Table.from_pylist(part,
                                     schema=fixtures._ARROW_SCHEMAS[name]),
                str(root / name / f"part-{i}.parquet"))
    blocks = str(root / "blocks")
    for q in (
        P.start_ingest(
            P.streaming_ops(P.read_block_stream(spark, blocks, 1), None),
            str(root / "ops"), str(root / "channels"), str(root / "ck1")),
        P.start_schedule_publisher(
            P.read_schedule_stream(spark, str(root / "witness_schedules"), 1),
            str(root / "schedules"), str(root / "ck2")),
        P.start_block_channel_publisher(
            P.read_block_stream(spark, blocks, 1), str(root / "blockchan"),
            str(root / "ck3")),
    ):
        q.awaitTermination(120)
    return root


def _copy(src, dst) -> str:
    import shutil
    shutil.copytree(src, dst)
    return str(dst)


def _after_compact(spark, root, d):
    path = _copy(root / "channels", d / "channels")
    assert ManifestStore(spark, path).compact(("block_num",)) > 1
    return path


def _after_compact_meta(spark, root, d):
    from meeseeker_spark.streaming.pipeline import compact_meta
    _copy(root / "ops_meta", d / "ops_meta")
    assert compact_meta(spark, str(d / "ops")) > 1
    return str(d / "ops_meta")


def _after_expire(spark, root, d):
    path = _copy(root / "ops", d / "ops")
    later = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) \
        + dt.timedelta(days=1)
    assert ManifestStore(spark, path).expire(3600, now=later) > 0
    return path


def _after_write(spark, root, d):
    from meeseeker_spark.query import OpsStore
    path = str(d / "ops")
    OpsStore.write(ManifestStore(spark, str(root / "ops")).df()
                   .drop("ingested_at"), path)
    return path


def _after_reset_all(spark, root, d):
    from meeseeker_spark.query import OpsStore
    path = _copy(root / "ops", d / "ops")
    OpsStore(spark, path).reset("all")
    assert ManifestStore(spark, path).df().count() == 0
    return path


def _after_schemaless_manifest(spark, root, d):
    """A version written before schemas were recorded (no ``schema``
    key) still reads — through inference, which runs a Spark job — and
    its next commit records one."""
    path = _copy(root / "channels", d / "channels")
    s = ManifestStore(spark, path)
    m = s._read_manifest()
    n = s.df().count()
    with open(os.path.join(path, "_manifest",
                           f"v{m['version'] + 1}.json"), "w") as f:
        json.dump({"version": m["version"] + 1, "files": m["files"],
                   "batch_ids": m["batch_ids"]}, f)
    assert _df_jobs(spark, s) > 0
    assert s.df().count() == n
    s.append(s.df().limit(1), batch_id=99)
    return path


def _df_jobs(spark, store) -> int:
    """Spark jobs launched while ``store.df()`` builds its frame."""
    sc = spark.sparkContext
    group = f"df-probe-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "ManifestStore.df")
    try:
        store.df()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case", [
    "ops", "channels", "ops_meta", "schedules", "blockchan",
    _after_compact, _after_compact_meta, _after_expire, _after_write,
    _after_reset_all, _after_schemaless_manifest,
], ids=lambda c: c if isinstance(c, str) else c.__name__[1:])
def test_recorded_schema_matches_inference(spark, sink_outputs, case,
                                           tmp_path):
    """Every sink output, and every store after each maintenance commit,
    records its schema in the manifest; reading with it gives exactly
    the schema Spark infers from the files, and launches no job."""
    path = (str(sink_outputs / case) if isinstance(case, str)
            else case(spark, sink_outputs, tmp_path))
    s = ManifestStore(spark, path)
    assert "schema" in s._read_manifest()
    files = [os.path.join(path, f) for f in s.files()]
    assert s.df().schema == spark.read.parquet(*files).schema
    assert _df_jobs(spark, s) == 0


def test_append_schema_mismatch_fails_loudly(spark, tmp_path):
    """An append whose columns differ by name or type from the recorded
    schema raises before anything is staged; reordered columns and
    different nullability are the same table."""
    s = ManifestStore(spark, str(tmp_path / "m"))
    s.append(_rows(spark, [1]), batch_id=0)
    recorded = s.df().schema
    data = os.path.join(s.path, "data")
    staged = set(os.listdir(data))
    for ddl, named in (("id bigint, w string", "w"),
                       ("id int, v string", "id")):
        bad = spark.createDataFrame([(2, "x")], ddl)
        with pytest.raises(ValueError, match=named):
            s.append(bad, batch_id=1)
        assert set(os.listdir(data)) == staged
    assert s.current_version() == 1 and s.committed_batch_ids() == {0}
    s.append(spark.createDataFrame([("v2", 2)], "v string, id bigint"),
             batch_id=1)
    s.append(spark.createDataFrame(
        [(3, "v3")], "id bigint not null, v string not null"), batch_id=2)
    assert sorted(r["id"] for r in s.df().collect()) == [1, 2, 3]
    assert s.df().schema == recorded
