"""Channel fan-out derivation (SURVEY §2 B8/S8).

The reference publishes to per-type pub/sub channels — ``hive:op:vote``,
per-``custom_json.id`` sub-channels, per-contract/action channels, plus one
``chain:block`` / ``chain:transaction`` notification per block/trx
(/root/reference/lib/meeseeker/block_follower_job.rb:33,79,83,90;
steem_engine/follower_job.rb:77,81-82).  Channel names are *data-derived*
(new contracts/ids need no code change — README.md:351).

Here fan-out is an append-only ``channel_events(channel, kind, key,
block_num, payload)`` table/stream: one ingest pipeline, N downstream
readers filter by channel — the same economics as the reference's pub/sub
(README.md:7), but replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_CUSTOM_TYPES = ("custom", "custom_binary", "custom_json")


def op_channels(ops: DataFrame) -> DataFrame:
    """Per-op channel rows: ``{chain}:op:{op_type}`` (mainnet,
    block_follower_job.rb:83) or ``{chain}:{contract}`` /
    ``{chain}:{contract}:{action}`` (sidechain, follower_job.rb:81-82 —
    note: NO literal segment between chain and contract on the wire), plus
    custom-id sub-channels. Pure narrow projections + unions — no shuffle."""
    mainnet = ops.where(F.col("op_type").isNotNull())
    side = ops.where(F.col("contract").isNotNull())

    out = mainnet.select(
        F.concat_ws(":", "chain", F.lit("op"), "op_type").alias("channel"),
        F.lit("op").alias("kind"), "key", "block_num",
        F.to_json(F.struct("key")).alias("payload"),
    )

    custom_id = F.get_json_object("value", "$.id")
    sub = (
        mainnet.where(
            F.col("op_type").isin(*_CUSTOM_TYPES)
            & custom_id.isNotNull() & (custom_id != "")
        )
        .select(
            F.concat_ws(":", "chain", F.lit("op"), "op_type", custom_id)
            .alias("channel"),
            F.lit("custom_id").alias("kind"), "key", "block_num",
            F.to_json(F.struct("key")).alias("payload"),
        )
    )

    per_contract = side.select(
        F.concat_ws(":", "chain", "contract").alias("channel"),
        F.lit("contract").alias("kind"), "key", "block_num",
        F.to_json(F.struct("key")).alias("payload"),
    )
    per_action = side.select(
        F.concat_ws(":", "chain", "contract", "action").alias("channel"),
        F.lit("contract_action").alias("kind"), "key", "block_num",
        F.to_json(F.struct("key")).alias("payload"),
    )
    return (out.unionByName(sub).unionByName(per_contract)
            .unionByName(per_action))


def engine_transaction_channels(ops: DataFrame) -> DataFrame:
    """Sidechain per-trx notifications (follower_job.rb:44-50): real trxs
    publish to ``{chain}:transaction``, virtual ones (sentinel base id) to
    ``{chain}:virtual_transaction``; payload = {block_num, transaction_id,
    transaction_num}. One group per stored trx row — engine rows are
    already trx-granular, so this is a narrow projection, no shuffle."""
    from .schemas import VIRTUAL_TRX_ID
    return ops.select(
        F.concat_ws(
            ":", "chain",
            F.when(F.col("trx_id") == VIRTUAL_TRX_ID,
                   F.lit("virtual_transaction"))
            .otherwise(F.lit("transaction")),
        ).alias("channel"),
        F.lit("transaction").alias("kind"),
        F.lit(None).cast("string").alias("key"),
        "block_num",
        F.to_json(F.struct(
            "block_num",
            F.col("trx_id").alias("transaction_id"),
            "transaction_num")).alias("payload"),
    )


def engine_block_channels(ops: DataFrame) -> DataFrame:
    """Sidechain ``{chain}:block`` notifications, payload = {block_num} only
    (follower_job.rb:70-77 — the engine publisher never fetches headers).
    Derived from the stored trx rows: one distinct (chain, block_num)."""
    return ops.select("chain", "block_num").distinct().select(
        F.concat_ws(":", "chain", F.lit("block")).alias("channel"),
        F.lit("block").alias("kind"),
        F.lit(None).cast("string").alias("key"),
        "block_num",
        F.to_json(F.struct("block_num")).alias("payload"),
    )


def engine_channels(ops: DataFrame) -> DataFrame:
    """Full sidechain fan-out for one ingest batch: per-contract +
    per-contract:action pointers (from op_channels' sidechain branch) ∪
    per-trx notifications ∪ per-block notifications — the complete channel
    set follower_job.rb:20-83 publishes."""
    return (
        op_channels(ops)
        .unionByName(engine_transaction_channels(ops))
        .unionByName(engine_block_channels(ops))
    )

