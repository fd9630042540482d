"""Verification analytics (SURVEY §2 D1, D2, D4) — the reference's
Rakefile ``verify:*`` oracle queries, re-expressed as distributed set
reconciliation; the CLI's ``verify`` runs them.  The D3 referential join
and the D5 sample audit run as the catalog's ``d3_ref_join`` and
``d5_sample_audit``.

The reference collects key sets into Ruby arrays and diffs them in-process
(/root/reference/Rakefile:229-265,352-396,419-493,552-643); here every diff
is a grouped ``collect_set`` + ``array_intersect``/``array_except`` — no
driver-side state, so the same plan reconciles 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .schemas import VIRTUAL_TRX_ID, WITNESS_ROUND


def reconcile_blocks(ops: DataFrame, blocks: DataFrame) -> DataFrame:
    """D1: per-block trx-id set reconciliation (Rakefile:229-265).

    expected = trx ids seen in the store (virtual excluded);
    actual   = the block's own transaction_ids.
    Emits intersection size + both set differences; ``reconciled`` iff
    |∩| == |expected| == |actual|.
    """
    expected = (
        ops.where(F.col("trx_id") != VIRTUAL_TRX_ID)
        .groupBy("block_num")
        .agg(F.collect_set("trx_id").alias("expected_ids"))
    )
    actual = blocks.select(
        "block_num", F.col("transaction_ids").alias("actual_ids"))
    j = actual.join(expected, "block_num", "left").select(
        "block_num",
        F.coalesce("expected_ids", F.array()).alias("expected_ids"),
        "actual_ids",
    )
    inter = F.array_intersect("expected_ids", "actual_ids")
    return j.select(
        "block_num",
        F.size("expected_ids").alias("n_expected"),
        F.size("actual_ids").alias("n_actual"),
        F.size(inter).alias("n_common"),
        F.array_sort(F.array_except("actual_ids", "expected_ids")).alias("missing"),
        F.array_sort(F.array_except("expected_ids", "actual_ids")).alias("extra"),
        ((F.size(inter) == F.size("expected_ids"))
         & (F.size(inter) == F.size("actual_ids"))).alias("reconciled"),
    )


def reconcile_engine_blocks(engine_ops: DataFrame,
                            engine_blocks: DataFrame) -> DataFrame:
    """D2: sidechain variant (Rakefile:352-396) — actual ids need the
    '<id>-<n>' → base-id split before comparing."""
    expected = (
        engine_ops.where(F.col("trx_id") != VIRTUAL_TRX_ID)
        .groupBy("block_num")
        .agg(F.collect_set("trx_id").alias("expected_ids"))
    )
    # actual side: REAL transactions only (Rakefile:372 maps
    # block['transactions'], never virtualTransactions — virtual trxs are
    # excluded from both sides of the reconciliation, the stored side via
    # the sentinel their ids are rewritten to)
    actual = engine_blocks.select(
        F.col("blockNumber").alias("block_num"),
        F.array_distinct(F.transform(
            F.coalesce("transactions", F.array()),
            lambda t: F.split(t["transactionId"], "-")[0],
        )).alias("actual_ids"),
    )
    j = actual.join(expected, "block_num", "left").select(
        "block_num",
        F.coalesce("expected_ids", F.array()).alias("expected_ids"),
        "actual_ids",
    )
    # (the sentinel is already excluded from expected_ids by the
    # where-filter above — a second array_remove here was a no-op that
    # implied the sentinel could reach this point; removed, r15 review)
    inter = F.array_intersect("expected_ids", "actual_ids")
    return j.select(
        "block_num",
        F.size("expected_ids").alias("n_expected"),
        F.size("actual_ids").alias("n_actual"),
        F.size(inter).alias("n_common"),
        F.array_sort(F.array_except("actual_ids", "expected_ids")).alias("missing"),
        F.array_sort(F.array_except("expected_ids", "actual_ids")).alias("extra"),
        ((F.size(inter) == F.size("expected_ids"))
         & (F.size(inter) == F.size("actual_ids"))).alias("reconciled"),
    )


def witness_rounds(blocks: DataFrame, schedules: DataFrame) -> DataFrame:
    """D4: witness-round set comparison (Rakefile:552-643).

    Round derivation ``(next_shuffle-20)..next_shuffle`` is
    ``sequence()`` + explode; actual witnesses come from the block headers;
    missing/extra via array_except both ways.  Exit-code semantics
    (−(missing+extra)) are preserved in ``penalty``.

    Only rounds FULLY covered by ``blocks`` are verified (ADVICE r13):
    the reference runs live and waits for each round's headers
    (Rakefile:552-643 polls until the blocks exist), so a batch check
    over a bounded capture must not grade a round the capture only
    partially holds — a round straddling the capture tip would flag its
    not-yet-captured witnesses as "missing" (false alarm), and one
    entirely outside it would silently vanish through an inner join
    (false clean).  Coverage = ``round_start >= min(block_num) AND
    round_end <= max(block_num)`` over the capture, attached as a
    broadcast 1-row bound (no driver collect — scale-safe).  Within a
    covered range, the header join is LEFT, so a covered round whose
    blocks are absent (an interior capture gap) reports every scheduled
    witness missing instead of disappearing.  Skipped (uncovered)
    rounds are the caller's ``schedules.count() − result.count()`` —
    one schedule row is one round.
    """
    bounds = blocks.agg(
        F.min("block_num").alias("_cov_min"),
        F.max("block_num").alias("_cov_max"),
    )
    round_start = F.col("next_shuffle_block_num") - (WITNESS_ROUND - 1)
    rounds = (
        schedules.crossJoin(F.broadcast(bounds))
        .where((round_start >= F.col("_cov_min"))
               & (F.col("next_shuffle_block_num") <= F.col("_cov_max")))
        .select(
            "id",
            F.col("next_shuffle_block_num").alias("round_end"),
            F.col("current_shuffled_witnesses").alias("scheduled"),
            F.explode(
                F.sequence(round_start, F.col("next_shuffle_block_num"))
            ).alias("block_num"),
        )
    )
    headers = blocks.select("block_num", "witness")
    # left join: collect_set ignores the NULL witnesses of unmatched
    # blocks, so a covered round with zero captured blocks groups to an
    # empty actual set (= all scheduled witnesses missing)
    actual = (
        rounds.join(headers, "block_num", "left")
        .groupBy("id", "round_end", "scheduled")
        .agg(F.collect_set("witness").alias("actual"))
    )
    missing = F.array_sort(F.array_except("scheduled", "actual"))
    extra = F.array_sort(F.array_except("actual", "scheduled"))
    # a NULL scheduled array (malformed capture row) must grade as NULL
    # ok/penalty — the CLI's ungradable sentinel keys on that.  Guard
    # EXPLICITLY on scheduled rather than relying on size(NULL)=NULL
    # propagation: with ANSI off, Spark's size(NULL) is -1 (legacy
    # sizeOfNull — still the ANSI-off default in Spark 4, measured),
    # which silently turned each such round into ok=false/penalty=-2,
    # hiding the sentinel AND cancelling real penalties (r15 second
    # review; this module must grade identically on any host session).
    gradable = F.col("scheduled").isNotNull()
    return actual.select(
        "id", "round_end",
        missing.alias("missing"), extra.alias("extra"),
        F.when(gradable, F.size(missing) + F.size(extra)).alias("penalty"),
        F.when(gradable,
               (F.size(missing) == 0) & (F.size(extra) == 0)).alias("ok"),
    )

