"""OpsStore: manifest write, scan/get/find/reset, TTL expiry."""

from __future__ import annotations

import datetime as dt
import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from meeseeker_spark import fixtures, manifest
from meeseeker_spark.flatten import flatten_engine_blocks, flatten_ops_with_virtual
from meeseeker_spark.manifest import ManifestStore
from meeseeker_spark.query import OpsStore
from meeseeker_spark.schemas import (BLOCKS, ENGINE_BLOCKS, VIRTUAL_OPS,
                                     VIRTUAL_TRX_ID)


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


def test_scan_plan_prunes(store, monkeypatch):
    # past the row bound a scan is a Spark read of its candidate files,
    # and the C1 predicate must reach it: chain and op_type segments
    # are pushed data filters (min/max row-group pruning)
    monkeypatch.setattr(manifest, "_ROWS", 0)
    plan = store.scan("hive:*:vote")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "EqualTo(chain,hive)" in plan
    assert "EqualTo(op_type,vote)" in plan


def test_retention_expire(spark, store, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ttl") / "ops")
    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    old = now - dt.timedelta(days=2)
    df = store.df().limit(200).withColumn(
        "ingested_at",
        F.when(F.col("block_num") % 2 == 0, F.lit(old)).otherwise(F.lit(now)))
    OpsStore.write(df, path)
    st = OpsStore(spark, path)
    total = st.df().count()
    removed = ManifestStore(spark, path).expire(ttl_s=86_400, now=now)
    assert removed > 0
    assert st.df().count() == total - removed
    assert st.df().where(
        F.col("ingested_at") < F.lit(now - dt.timedelta(seconds=86_400))
    ).count() == 0
    # ttl -1 disables expiry
    assert ManifestStore(spark, path).expire(ttl_s=-1, now=now) == 0


def test_reset_partition_drop(spark, store, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("reset") / "ops")
    OpsStore.write(store.df(), path)
    s = OpsStore(spark, path)
    n_hive = s.df().where("chain = 'hive'").count()
    assert n_hive > 0
    s.reset("hive_engine")
    chains = {r["chain"] for r in s.df().select("chain").distinct().collect()}
    assert chains == {"hive"}
    assert s.df().count() == n_hive
    s.reset("all")
    assert s.df().count() == 0
    assert "key" in s.df().columns       # the empty table keeps its schema


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
    never silently dropped by a file rewrite)."""
    from meeseeker_spark.flatten import flatten_blocks

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

    ms = ManifestStore(spark, str(d / "store"))
    removed = ms.expire(ttl_s=86_400, now=dt.datetime(2000, 1, 3))
    left = OpsStore(spark, str(d / "store")).df()
    assert removed == n_old
    assert left.count() == n_null
    assert left.where("ingested_at IS NOT NULL").count() == 0


def test_unified_store_schedule_scan(spark, tmp_path_factory, store):
    """UnifiedStore (VERDICT r3 item 8): schedule publish log answers the
    same scan/find surface as the ops store through the same glob
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
    one = u.scan("hive:witness:schedule:4200").collect()
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
    """A key whose block_num/trx_index segment isn't a canonical int64
    exists in no store — GET returns empty (Redis nil analog), never an
    int() crash and never another key's row: ``0123`` and the
    Arabic-Indic ``١٢٣`` both int() to 123, and ``²`` passes isdigit()
    but int() raises on it."""
    assert store.get("hive:notanumber:" + "a" * 40 + ":0:vote").count() == 0
    assert store.get("hive:12:" + "a" * 40 + ":xyz:vote").count() == 0
    key = store.df().where("chain = 'hive'").first()["key"]
    seg = key.split(":")
    arabic = str.maketrans("0123456789", "٠١٢٣٤٥٦٧٨٩")
    assert store.get(key).count() == 1
    for i in (1, 3):                       # block_num, trx_index
        for bad in ("0" + seg[i], seg[i].translate(arabic), "²"):
            odd = ":".join(seg[:i] + [bad] + seg[i + 1:])
            assert store.get(odd).count() == 0, odd


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs."""
    sc = spark.sparkContext
    group = f"jobs-probe-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _point_row(store):
    """A mainnet row with a real (non-virtual) trx id."""
    return store.df().where((F.col("chain") == "hive")
                            & (F.col("trx_id") != VIRTUAL_TRX_ID)).first()


def test_block_bound_requests_launch_no_job(spark, store, monkeypatch):
    """Every request — get, find_block, has_block, find_trx (the id
    every virtual op shares included) and block, trx, type and chain
    glob scans — goes through ManifestStore.find/exists: the recorded
    file ranges pick the candidate files and, on the fixture store, the
    rows are read on the driver, so collecting the answer launches no
    Spark job.  Past one compacted file's bytes, or past ``_ROWS``
    matching rows, the answer is the Spark read of just the candidate
    files, with the same rows."""
    r = _point_row(store)
    b, trx = r["block_num"], r["trx_id"]
    assert _jobs(spark, lambda: store.get(r["key"]).collect()) == 0
    assert _jobs(spark, lambda: store.find_block(b).collect()) == 0
    assert _jobs(spark, lambda: store.scan(f"hive:{b}:*").collect()) == 0
    assert _jobs(spark, lambda: (store.has_block(b),
                                 store.has_block(10**12))) == 0
    assert _jobs(spark, lambda: store.find_trx(trx).collect()) == 0
    assert _jobs(spark, lambda: store.scan(f"hive:*:{trx}:*").collect()) == 0
    assert _jobs(spark, lambda: store.scan("hive:*:vote").collect()) == 0
    assert _jobs(spark, lambda: store.scan("hive:*").collect()) == 0
    assert _jobs(spark,
                 lambda: store.find_trx(VIRTUAL_TRX_ID).collect()) == 0

    m = ManifestStore(spark, store.path)._read_manifest()
    hive = {"chain": "hive"}
    lookups = [(lambda: store.get(r["key"]), {"block_num": b, **hive}),
               (lambda: store.find_trx(trx, "hive"), hive),
               (lambda: store.scan("hive:*:vote"), hive),
               (lambda: store.find_trx(VIRTUAL_TRX_ID, "hive"), hive)]
    local = [sorted(fn().collect()) for fn, _ in lookups]
    assert all(local), "every lookup matches rows on the fixture store"
    for bound in ("_FILE_BYTES", "_ROWS"):
        with monkeypatch.context() as mp:
            mp.setattr(manifest, bound, 0)
            for (fn, where), want in zip(lookups, local):
                assert _jobs(spark, lambda: fn().collect()) > 0, bound
                files = {f for f in m["files"]
                         if manifest._can_hold(m["file_stats"][f], where)}
                assert 0 < len(files) < len(m["files"]), where
                assert {urlparse(u).path for u in fn().inputFiles()} \
                    == {os.path.join(store.path, f) for f in files}
                assert sorted(fn().collect()) == want, (bound, where)


def test_exists_decodes_only_bound_columns(spark, store, monkeypatch):
    """An existence probe decodes only the columns it binds on the driver
    path, never the fat ``value`` column; ``find`` over the same bindings
    still returns every column."""
    r = _point_row(store)
    where = {"block_num": r["block_num"], "chain": "hive"}
    decoded: list = []
    dataset = manifest.pads.dataset

    class Spy:
        def __init__(self, *args, **kwargs):
            self.ds = dataset(*args, **kwargs)

        def __getattr__(self, name):
            return getattr(self.ds, name)

        def to_batches(self, **kwargs):
            decoded.append(kwargs.get("columns"))
            return self.ds.to_batches(**kwargs)

    monkeypatch.setattr(manifest.pads, "dataset", Spy)
    ms = ManifestStore(spark, store.path)
    assert ms.exists(where) and store.has_block(r["block_num"], "hive")
    assert [c and sorted(c) for c in decoded] == [["block_num", "chain"]] * 2
    decoded.clear()
    rows = ms.find(where)
    assert rows.columns == store.df().columns
    assert len(decoded) == 1 and decoded[0] in (None, rows.columns)
    assert rows.count() > 0


def test_unified_store_ops_half_goes_through_ops_store(
        spark, store, tmp_path_factory):
    """UnifiedStore answers its ops half through OpsStore: a block
    lookup or block glob returns OpsStore's rows plus the schedule row
    published at that block."""
    from meeseeker_spark.query import UnifiedStore

    b = _point_row(store)["block_num"]
    d = tmp_path_factory.mktemp("unisched")
    sdf = spark.createDataFrame(
        [(1, b, ["w1"])], "id bigint, next_shuffle_block_num bigint, "
                          "current_shuffled_witnesses array<string>")
    ManifestStore(spark, str(d)).append(
        sdf.withColumn("batch_id", F.lit(0)), 0)
    u = UnifiedStore(spark, store.path, str(d))

    def keys(df):
        return sorted(r["key"] for r in df.collect())

    assert keys(u.find_block(b)) == sorted(
        keys(store.find_block(b)) + [f"hive:witness:schedule:{b}"])
    assert keys(u.scan(f"hive:{b}:*")) == keys(store.scan(f"hive:{b}:*"))


def test_block_bound_rows_match_spark_under_non_utc_session(spark, store):
    """The driver-read rows equal the Spark read's, timestamps included,
    under a non-UTC session timezone.  The files hold INT96 (naive)
    timestamps; uncast to UTC instants, createDataFrame would take them
    as session-local wall time and shift them by the zone's offset."""
    r = _point_row(store)
    b, trx = r["block_num"], r["trx_id"]

    def by_key(rows):
        return sorted(rows, key=lambda x: x["key"])

    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        block = store.df().where(F.col("block_num") == b)
        assert store.get(r["key"]).collect() \
            == store.df().where(F.col("key") == r["key"]).collect()
        assert by_key(store.scan(f"hive:{b}:*").collect()) \
            == by_key(block.where(F.col("chain") == "hive").collect())
        assert by_key(store.find_block(b).collect()) \
            == by_key(block.select("key", "value").collect())
        by_trx = store.df().where(F.col("trx_id") == trx)
        assert by_key(store.scan(f"hive:*:{trx}:*").collect()) \
            == by_key(by_trx.where(F.col("chain") == "hive").collect())
        assert by_key(store.find_trx(trx).collect()) \
            == by_key(by_trx.select("key", "value").collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_point_lookups_keep_rows_after_empty_batches(spark, tmp_path):
    """Regression: five appends each hold blocks 0 and 1000 plus one
    block of their own, so every file's block range holds every lookup
    and a lookup of one file's block scans four files with no match.
    The filtered scan yields one record batch per file, empty ones
    included, and PySpark's ``createDataFrame(pa.Table)`` dropped a
    non-empty batch that followed an empty batch past the first — so
    whatever the file order, at least three of the five lookups
    returned no rows while ``has_block`` said True."""
    import pyarrow as pa

    path = str(tmp_path / "ops")
    ms = ManifestStore(spark, path)
    now = dt.datetime(2030, 1, 1)

    def rows(i: int) -> pa.Table:
        ops = [(blk, f"{blk:020x}{i:020x}") for blk in (0, 10 + i, 1000)]
        return pa.table({
            "chain": ["hive"] * 3,
            "block_num": pa.array([blk for blk, _ in ops], pa.int64()),
            "trx_id": [t for _, t in ops],
            "trx_index": pa.array([0] * 3, pa.int32()),
            "op_type": ["vote"] * 3,
            "key": [f"hive:{blk}:{t}:0:vote" for blk, t in ops],
            "value": [f'{{"i": {i}}}'] * 3,
            "ingested_at": pa.array([now] * 3, pa.timestamp("us")),
        })

    for i in range(5):
        ms.append(rows(i))
    st = OpsStore(spark, path)
    for i in range(5):
        blk = 10 + i
        trx = f"{blk:020x}{i:020x}"
        key = f"hive:{blk}:{trx}:0:vote"
        want = [(key, f'{{"i": {i}}}')]
        assert st.has_block(blk)
        assert [tuple(x) for x in st.find_block(blk).collect()] == want, i
        assert [tuple(x) for x in st.find_trx(trx).collect()] == want, i
        assert [x["key"] for x in st.get(key).collect()] == [key], i
        assert [x["key"] for x in st.scan(f"hive:{blk}:*").collect()] \
            == [key], i


def test_bound_reads_stop_at_the_row_bound(spark, tmp_path, monkeypatch):
    """The driver read ends early.  Six files hold three rows of block 7
    each and six more hold blocks 0 and 20 around it, so every file is a
    candidate.  Candidates whose footers hold no more than ``_ROWS``
    rows are read once, every column.  Past that, ``find`` counts its
    matches on the bound column first: with ``_ROWS`` at 20 the 18
    matches are then read on the driver; at 4 the count pulls no batch
    after the one that takes it past 4, no other column is decoded, and
    the answer is the Spark read of the candidate files, with every
    row.  ``exists`` pulls exactly one non-empty batch."""
    import pyarrow as pa

    ms = ManifestStore(spark, str(tmp_path / "ops"))

    def rows(blocks: list[int], i: int) -> pa.Table:
        return pa.table({
            "chain": ["hive"] * len(blocks),
            "block_num": pa.array(blocks, pa.int64()),
            "key": [f"hive:{b}:{i}:{j}" for j, b in enumerate(blocks)]})

    for i in range(6):
        ms.append(rows([7, 7, 7], i))
        ms.append(rows([0, 20], i))
    pulled: list[int] = []
    dataset = manifest.pads.dataset

    class Spy:
        def __init__(self, *args, **kwargs):
            self.ds = dataset(*args, **kwargs)

        def __getattr__(self, name):
            return getattr(self.ds, name)

        def to_batches(self, **kwargs):
            for b in self.ds.to_batches(**kwargs):
                pulled.append((tuple(kwargs["columns"]), b.num_rows))
                yield b

    def rows_by_columns():
        out: dict = {}
        for cols, n in pulled:
            out[cols] = out.get(cols, 0) + n
        return out

    monkeypatch.setattr(manifest.pads, "dataset", Spy)
    where = {"block_num": 7}
    want = sorted(f"hive:7:{i}:{j}" for i in range(6) for j in range(3))
    every = ("chain", "block_num", "key")
    assert sorted(r["key"] for r in ms.find(where).collect()) == want
    assert rows_by_columns() == {every: len(want)}    # 30 rows: no count

    monkeypatch.setattr(manifest, "_ROWS", 20)
    pulled.clear()
    assert sorted(r["key"] for r in ms.find(where).collect()) == want
    assert rows_by_columns() == {("block_num",): len(want),
                                 every: len(want)}

    monkeypatch.setattr(manifest, "_ROWS", 4)
    pulled.clear()
    got = ms.find(where)
    assert {cols for cols, _ in pulled} == {("block_num",)}, pulled
    matched = [n for _, n in pulled if n]
    assert pulled[-1][1] and matched == [3, 3], pulled
    assert {urlparse(u).path for u in got.inputFiles()} \
        == {os.path.join(ms.path, f) for f in ms.files()}
    assert sorted(r["key"] for r in got.collect()) == want

    pulled.clear()
    assert ms.exists(where)
    assert pulled[-1][1] and [n for _, n in pulled if n] == [3], pulled
    pulled.clear()
    assert not ms.exists({"block_num": 8})
    assert not any(n for _, n in pulled), pulled


def test_cli_find_block_non_numeric_errors_cleanly(tmp_path, capsys):
    import pytest as _pytest

    from meeseeker_spark.__main__ import main

    for ident in ("notanumber", "²"):      # '²' passes str.isdigit()
        with _pytest.raises(SystemExit):
            main(["find", "block", ident, "--store", str(tmp_path)])
        assert "needs a number" in capsys.readouterr().err


def test_ops_store_over_manifest_layout(spark, tmp_path_factory,
                                        monkeypatch):
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
    # past the row bound, glob predicates reach the parquet scan even
    # without chain= dirs
    with monkeypatch.context() as mp:
        mp.setattr(manifest, "_ROWS", 0)
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
    converts through the PYTHON PROCESS's OS timezone — correct on a
    UTC box but environmental, not structural (a non-UTC OS box
    would skew every cutoff by its offset; PySpark literals are NOT
    session-tz-interpreted, unlike SQL-parsed strings — the engine
    tip-age bug).  The comparison now runs on epoch seconds; this test
    pins that ManifestStore.expire decisions are identical under any
    SESSION timezone and that both the live and expired sides of the
    24 h boundary behave (23 h old → kept, 25 h → expired)."""
    from meeseeker_spark.flatten import flatten_blocks

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
    ms = ManifestStore(spark, str(d / "store"))
    n = aged.count()

    now = dt.datetime(2020, 1, 2, 23, 0, 0)   # rows are 23 h old
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert ms.expire(ttl_s=86_400, now=now) == 0
        # and the decision still flips when the rows genuinely expire
        later = dt.datetime(2020, 1, 3, 1, 0, 0)  # 25 h old
        assert ms.expire(ttl_s=86_400, now=later) == n
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_expire_null_chain_partition(spark, tmp_path_factory):
    """r14 review: an expired NULL-chain row crashed the old per-chain
    rewrite, which built a partition path from the grouped value.  NULL
    chain is a supported corner (reset's keep filter is NULL-safe for
    exactly these rows): its expired rows must leave like any other,
    and live rows of other chains must survive."""
    from meeseeker_spark.flatten import flatten_blocks

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
    n_null = aged.where("chain IS NULL").count()
    n_live = aged.where("chain IS NOT NULL").count()
    assert n_null and n_live

    removed = ManifestStore(spark, str(d / "store")).expire(
        ttl_s=86_400, now=dt.datetime(2000, 1, 3))
    assert removed == n_null
    left = OpsStore(spark, str(d / "store")).df()
    assert left.count() == n_live
    assert left.where("chain IS NULL").count() == 0


def test_loose_parquet_refused_before_sync_state(spark, tmp_path_factory):
    """Outside input stays guarded: a path holding parquet files but no
    committed manifest is refused by reset, expire, reads and writes
    with a clear error — and reset refuses BEFORE the ``_meta`` HWM
    sibling is touched (a silent no-op that still deleted the HWM was
    an r15 bug).  A missing path reads as "no commit yet" and no read
    or no-op reset creates it."""
    from meeseeker_spark.__main__ import main
    from meeseeker_spark.manifest import open_committed

    d = tmp_path_factory.mktemp("loose")
    path = str(d / "store")
    ddl = "key string, chain string, block_num long, ingested_at timestamp"
    rows = [("hive:1:t:0:vote", "hive", 1, dt.datetime(2000, 1, 1))]
    spark.createDataFrame(rows, ddl).write.partitionBy("chain").parquet(path)
    ManifestStore(spark, path + "_meta").append(
        spark.createDataFrame([("hive", 1)], "chain string, last_block_num long"))

    st = OpsStore(spark, path)
    with pytest.raises(ValueError, match="not a manifest store"):
        st.reset("hive")
    assert os.path.isdir(path + "_meta")
    with pytest.raises(ValueError, match="not a manifest store"):
        st.reset("all")
    assert os.path.isdir(path + "_meta")
    with pytest.raises(ValueError, match="not a manifest store"):
        main(["expire", "--store", path])
    with pytest.raises(ValueError, match="not a manifest store"):
        st.df()
    with pytest.raises(ValueError, match="not a manifest store"):
        OpsStore.write(spark.createDataFrame(rows, ddl), path)
    # nothing was converted in place: no manifest skeleton appeared
    assert not os.path.exists(os.path.join(path, "_manifest"))
    assert spark.read.parquet(path).count() == 1

    # a crashed FIRST commit leaves orphan parquet under data/ beside an
    # uncommitted _manifest/ — a never-committed store, not loose input
    crashed = str(d / "crashed")
    ManifestStore(spark, crashed)._stage(spark.createDataFrame(rows, ddl))
    assert open_committed(spark, crashed) is None
    OpsStore(spark, crashed).reset("hive")

    missing = str(d / "nope")
    with pytest.raises(FileNotFoundError):
        OpsStore(spark, missing).df()
    OpsStore(spark, missing).reset("all")
    assert main(["expire", "--store", missing]) == 0
    assert not os.path.exists(missing)


def test_loose_parquet_meta_and_schedules_refused(spark, tmp_path_factory):
    """The read-side probes share ``open_committed``'s rule: a loose
    parquet ``_meta`` or schedules path raises instead of reading as
    "no commit yet" (a None HWM made ``resolve_stream_start`` treat the
    store as fresh).  A missing path keeps its empty answer."""
    from meeseeker_spark.query import ScheduleStore
    from meeseeker_spark.streaming.pipeline import (compact_meta,
                                                    last_block_num)

    d = tmp_path_factory.mktemp("loose_probes")
    ops = str(d / "ops")
    spark.createDataFrame(
        [("hive", 5, 0)],
        "chain string, last_block_num long, batch_id long",
    ).write.parquet(ops + "_meta")
    with pytest.raises(ValueError, match="not a manifest store"):
        last_block_num(spark, ops)
    with pytest.raises(ValueError, match="not a manifest store"):
        compact_meta(spark, ops)
    sched = str(d / "schedules")
    spark.createDataFrame(
        [(1, 21, ["w1"])],
        "id long, next_shuffle_block_num long, "
        "current_shuffled_witnesses array<string>",
    ).write.parquet(sched)
    with pytest.raises(ValueError, match="not a manifest store"):
        ScheduleStore(spark, sched).df()

    assert last_block_num(spark, str(d / "nope")) is None
    assert compact_meta(spark, str(d / "nope")) == 0
    assert ScheduleStore(spark, str(d / "nope")).df().count() == 0
