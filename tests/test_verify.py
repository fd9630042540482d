"""D1–D5 verification analytics over clean + corrupted fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meeseeker_spark import fixtures, verify
from meeseeker_spark.channels import op_channels
from meeseeker_spark.flatten import flatten_engine_blocks, flatten_ops_with_virtual
from meeseeker_spark.schemas import (
    BLOCKS, ENGINE_BLOCKS, VIRTUAL_OPS, WITNESS_SCHEDULES,
)


@pytest.fixture(scope="module")
def fx():
    return fixtures.generate(n_blocks=105, seed=42)


@pytest.fixture(scope="module")
def dfs(spark, fx, tmp_path_factory):
    out = tmp_path_factory.mktemp("verifyfx")
    fixtures.write_parquet(fx, str(out))
    blocks = spark.read.schema(BLOCKS).parquet(str(out / "blocks.parquet"))
    vops = spark.read.schema(VIRTUAL_OPS).parquet(str(out / "virtual_ops.parquet"))
    eng = spark.read.schema(ENGINE_BLOCKS).parquet(str(out / "engine_blocks.parquet"))
    sched = spark.read.schema(WITNESS_SCHEDULES).parquet(
        str(out / "witness_schedules.parquet"))
    return {
        "blocks": blocks, "vops": vops, "eng": eng, "sched": sched,
        "ops": flatten_ops_with_virtual(blocks, vops).cache(),
        "engine_ops": flatten_engine_blocks(eng).cache(),
    }


def test_d1_clean_reconciles(dfs):
    rec = verify.reconcile_blocks(dfs["ops"], dfs["blocks"])
    bad = rec.where(~F.col("reconciled")).collect()
    assert bad == []


def test_d1_detects_missing(dfs):
    # drop one trx's ops from the store → that block must flag, with the
    # missing id named in the diff (Rakefile prints both set differences)
    victim = dfs["ops"].where("transaction_num IS NOT NULL").first()
    crippled = dfs["ops"].where(F.col("trx_id") != victim["trx_id"])
    rec = verify.reconcile_blocks(crippled, dfs["blocks"])
    flagged = rec.where(~F.col("reconciled")).collect()
    assert len(flagged) == 1
    assert flagged[0]["block_num"] == victim["block_num"]
    assert victim["trx_id"] in flagged[0]["missing"]


def test_d2_engine_clean_reconciles(dfs):
    rec = verify.reconcile_engine_blocks(dfs["engine_ops"], dfs["eng"])
    assert rec.where(~F.col("reconciled")).collect() == []


def test_d4_rounds_exact_except_corrupted(dfs, fx):
    res = verify.witness_rounds(dfs["blocks"], dfs["sched"])
    rows = {r["id"]: r for r in res.collect()}
    assert len(rows) == len(fx.witness_schedules)
    for rid, r in rows.items():
        if rid == fx.corrupted_round:
            assert not r["ok"]
            # swapped witness: one missing (the outsider never produced)
            # and one extra (the displaced witness did produce)
            assert r["penalty"] == 2
        else:
            assert r["ok"], f"round {rid}: missing={r['missing']} extra={r['extra']}"


def test_d4_straddling_round_skipped_not_flagged(dfs, fx):
    """ADVICE r13: a round only PARTIALLY covered by the capture (the
    in-flight round of any live capture tip, or a trimmed head) is
    SKIPPED — it must not flag its not-yet-captured witnesses as
    missing (false alarm), and must not silently vanish into an exit-0
    full-coverage claim (the caller reports the skip count)."""
    all_ids = {s["id"] for s in fx.witness_schedules}
    last = max(all_ids)
    first = min(all_ids)

    # trim 10 blocks off the capture TIP → the final round straddles
    tip = dfs["blocks"].agg(F.max("block_num")).first()[0]
    trimmed = dfs["blocks"].where(F.col("block_num") <= tip - 10)
    res = {r["id"]: r for r in
           verify.witness_rounds(trimmed, dfs["sched"]).collect()}
    assert last not in res                    # straddler skipped, not graded
    assert set(res) == all_ids - {last}       # every covered round graded
    # the surviving rounds grade exactly as before (penalties unchanged)
    assert all(r["ok"] for rid, r in res.items()
               if rid != fx.corrupted_round)

    # trim 10 blocks off the capture HEAD → the first round straddles
    lo = dfs["blocks"].agg(F.min("block_num")).first()[0]
    res2 = {r["id"] for r in verify.witness_rounds(
        dfs["blocks"].where(F.col("block_num") >= lo + 10),
        dfs["sched"]).collect()}
    assert first not in res2 and res2 == all_ids - {first}


def test_d4_interior_gap_counts_all_missing(dfs, fx):
    """ADVICE r13's second failure mode: a round whose blocks are
    ENTIRELY absent but which lies inside the capture's [min, max]
    bounds (an interior gap) used to vanish through the inner header
    join — a whole-round hole exited 0.  The left join makes it grade
    as all-scheduled-missing instead."""
    from meeseeker_spark.verify import WITNESS_ROUND

    victim = next(s for s in fx.witness_schedules
                  if s["id"] not in (0, fx.corrupted_round,
                                     len(fx.witness_schedules) - 1))
    end = victim["next_shuffle_block_num"]
    gapped = dfs["blocks"].where(
        ~F.col("block_num").between(end - (WITNESS_ROUND - 1), end))
    res = {r["id"]: r for r in
           verify.witness_rounds(gapped, dfs["sched"]).collect()}
    assert victim["id"] in res                # still graded, not dropped
    r = res[victim["id"]]
    assert not r["ok"] and r["extra"] == []
    assert sorted(r["missing"]) == sorted(
        set(victim["current_shuffled_witnesses"]))


def test_d4_null_schedule_ungradable_any_ansi_mode(spark, dfs, fx):
    """r15 second review: a NULL scheduled array must grade ok=NULL /
    penalty=NULL (the CLI's ungradable sentinel keys on it) on ANY host
    session.  With ANSI off, Spark's size(NULL) is -1 — the legacy
    sizeOfNull behavior is still the ANSI-off default in Spark 4 — so
    the un-guarded grade silently became ok=false / penalty=-2, hiding
    the sentinel and CANCELLING real penalties in the CLI's sum."""
    sched = dfs["sched"]
    mid = fx.witness_schedules[len(fx.witness_schedules) // 2]
    nulled = sched.withColumn(
        "current_shuffled_witnesses",
        F.when(F.col("next_shuffle_block_num")
               == mid["next_shuffle_block_num"],
               F.lit(None)).otherwise(F.col("current_shuffled_witnesses")))
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            rows = {r["id"]: r for r in
                    verify.witness_rounds(dfs["blocks"], nulled).collect()}
            r = rows[mid["id"]]
            assert r["ok"] is None and r["penalty"] is None, ansi
            # and a real (non-NULL) round still grades identically
            good = rows[0]
            assert good["ok"] is not None and good["penalty"] is not None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)


def test_d4_empty_blocks_grades_nothing(spark, dfs):
    """No capture → no covered rounds (NULL bounds filter everything);
    the caller reports every round skipped rather than all-missing."""
    empty = dfs["blocks"].limit(0)
    assert verify.witness_rounds(empty, dfs["sched"]).count() == 0


def test_channels_match_golden(dfs, fx):
    """``sync``'s mainnet fan-out is the per-op and custom-id channels of
    the golden; its per-block and per-transaction notifications are not
    published on mainnet."""
    from collections import Counter
    got = Counter(
        (r["channel"], r["kind"])
        for r in op_channels(dfs["ops"]).collect()
    )
    exp = Counter((c["channel"], c["kind"]) for c in fx.channels_expected
                  if c["kind"] in ("op", "custom_id"))
    # fixture golden doesn't enumerate engine channels; compare mainnet set
    got_mainnet = Counter({k: v for k, v in got.items()
                           if not k[0].startswith("hive_engine")})
    assert got_mainnet == exp
