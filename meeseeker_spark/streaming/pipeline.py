"""Structured Streaming ingestion (SURVEY §2 A/B streaming semantics, §3.1).

The reference's whole daemon — stream blocks, flatten, key, store, publish —
collapses into one declarative plan here:

    readStream(blocks) ∪ readStream(virtual_ops, watermarked)
      → flatten (same batch functions; posexplode is streaming-safe)
      → foreachBatch { idempotent keyed append + channel fan-out }

Choices mapped from the reference:
- late virtual ops (fetched with ≤3 retries ≈ 18 s lag,
  block_follower_job.rb:197-207) → a second file stream unioned in;
  watermark bound = VOP_LATENESS_S for any stateful op downstream.
- ``max_keys`` backpressure (:49-53) → maxFilesPerTrigger admission.
- HWM (:78, one Redis SET) → the checkpoint; plus an explicit per-batch
  _meta row for wire-compat with `find`/resume consumers, written from
  the driver as one Arrow row rather than through a Spark write job.
- exactly-once: the reference is at-least-once on restart, idempotent only
  by key re-SET. We do the same but better: every per-trigger output is one
  ``manifest.ManifestStore`` commit that records the trigger's batch id, so
  a retried batch short-circuits on its own id (sink idempotence keyed on
  the epoch id, without Delta).  Readers see only committed manifests.
- per-trigger fixed cost: a trigger's outputs stage concurrently (ops on
  the foreachBatch thread; channels, then ``_meta``, on one worker) and
  commit in protocol order — ops, channels, ``_meta`` — only once all
  staged (``_commit_outputs``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..channels import engine_channels, op_channels
from ..flatten import flatten_blocks, flatten_engine_blocks, flatten_virtual_ops
from ..manifest import (ManifestStore, append_all, open_committed,
                         require_committed)
from ..schemas import BLOCKS, ENGINE_BLOCKS, VIRTUAL_OPS, WITNESS_SCHEDULES

VOP_LATENESS = "18 seconds"   # Σ(retry × BLOCK_INTERVAL), see SURVEY §4.5

# The file source carries no dgpo, so the irreversible stream mode needs a
# stand-in for head_block_number − last_irreversible_block_num.  On mainnet
# finality needs ~3/4 of the 21-witness round to have signed past a block,
# so the lag is bounded by one full round — the conservative default.
REVERSIBLE_LAG_BLOCKS = 21

# The ``_meta`` HWM row: one per trigger, (null, null, batch_id) for a
# trigger with no rows
_META_ARROW = pa.schema([("chain", pa.string()),
                         ("last_block_num", pa.int64()),
                         ("batch_id", pa.int32())])


def _read_stream(spark: SparkSession, schema, path: str,
                 max_files_per_trigger: int | None) -> DataFrame:
    """A parquet file stream of ``schema`` rows; ``max_files_per_trigger``
    is the ``max_keys`` backpressure (admission per micro-batch)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def read_block_stream(spark: SparkSession, blocks_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    return _read_stream(spark, BLOCKS, blocks_dir, max_files_per_trigger)


def read_vop_stream(spark: SparkSession, vops_dir: str,
                    max_files_per_trigger: int | None = None) -> DataFrame:
    return _read_stream(spark, VIRTUAL_OPS, vops_dir, max_files_per_trigger)


def streaming_ops(blocks_stream: DataFrame, vops_stream: DataFrame | None,
                  chain: str = "hive") -> DataFrame:
    """The flatten plan, shared verbatim with batch mode — one code path,
    two execution modes (the Structured Streaming promise)."""
    ops = flatten_blocks(blocks_stream, chain)
    if vops_stream is not None:
        vops = vops_stream.withWatermark("timestamp", VOP_LATENESS)
        ops = ops.unionByName(flatten_virtual_ops(vops, chain))
    return ops


def _pending_replayed(pending: ManifestStore, batch_id: int,
                      stream_id: str | None) -> bool:
    """Whether ``batch_id``'s pending commit already landed — a replay
    AFTER the commit (crash between it and Structured Streaming's
    checkpoint commit, the standard at-least-once window), which must
    skip the whole trigger: the committed pending set no longer holds
    the rows this batch folded in, so a recomputed split would drop
    them from the outputs and stage the young rows a second time.  By
    protocol order every output landed before the pending commit.

    The version json records the producing batch id and the stream
    identity (the checkpoint's query id), so a stale pending set cannot
    masquerade as a replay: a NEW stream restarts its batch ids at 0,
    and pointed at a store whose ``_pending`` survives from an earlier
    stream, batch 0 can EQUAL the recorded id — trusting it would
    silently drop a real trigger.  A recorded stream id that differs
    from this stream's raises, and so does a recorded batch id AHEAD of
    this one (impossible within one checkpoint's monotone sequence).
    Recovery is explicit: ``reset`` the store, delete the stale
    ``_pending``, or resume the original checkpoint."""
    ids = pending.committed_batch_ids()
    if not ids:
        return False
    recorded, recorded_stream = max(ids), pending.recorded_stream_id()
    if (recorded_stream is not None and stream_id is not None
            and recorded_stream != stream_id):
        raise RuntimeError(
            f"stale pending store: {pending.path} was produced by a "
            f"different stream (recorded stream id {recorded_stream}, "
            f"this stream {stream_id}). A fresh checkpoint restarts "
            "batch ids at 0, so trusting it could silently skip real "
            "triggers. Reset the store, delete the stale _pending dir, "
            "or resume the original checkpoint.")
    if recorded > batch_id:
        raise RuntimeError(
            f"stale pending store: {pending.path} records batch "
            f"{recorded}, ahead of this stream's batch {batch_id} — batch "
            "ids are monotone within one checkpoint, so this pending set "
            "belongs to an earlier stream. Reset the store, delete the "
            "stale _pending dir, or resume the original checkpoint.")
    return recorded == batch_id


def _commit_irreversible(batch_df: DataFrame, ops_path: str,
                         channels_path: str, batch_id: int, channel_fn,
                         lib_lag: int, stream_id: str | None) -> None:
    """Read-committed micro-batch sink (stream mode ``irreversible``,
    block_follower_job.rb:113-123): the reference simply never fetches
    past ``last_irreversible_block_num``, and re-polls the held-back
    range once it becomes final.  A Spark file source can't re-deliver a
    consumed file, so the equivalent is sink-side: rows younger than
    ``head − lib_lag`` wait in the ``<ops_path>_pending`` manifest store
    and fold into the batch that sees the head move past them.

    The outputs commit first (``_commit_outputs``), then one pending
    ``overwrite`` recording this batch and stream id.  A batch replayed
    after a crash BEFORE the pending commit re-reads the same pending
    version and reproduces the same split (every output append
    short-circuits on its batch id); a replay AFTER it is skipped
    (``_pending_replayed``)."""
    spark = batch_df.sparkSession
    path = ops_path + "_pending"
    pending = open_committed(spark, path)
    rows = batch_df
    if pending is not None:
        if _pending_replayed(pending, batch_id, stream_id):
            return
        rows = rows.unionByName(pending.df().select(*batch_df.columns))
    # one materialization for the head max-agg, the outputs and the
    # pending commit
    rows = rows.persist()
    try:
        head = rows.agg(F.max("block_num")).first()[0]
        if head is None:      # nothing delivered, nothing pending
            _commit_outputs(rows, channel_fn, ops_path, channels_path,
                            batch_id)
            return
        lib = head - lib_lag  # the last irreversible block
        final = rows.where(F.col("block_num") <= lib)
        _commit_outputs(final, channel_fn, ops_path, channels_path,
                        batch_id)
        pending = pending or ManifestStore(spark, path)
        pending.overwrite(rows.where(F.col("block_num") > lib), batch_id,
                          stream_id)
        # one version of grace, as compact_meta's gc
        pending.gc(keep_versions=2)
    finally:
        rows.unpersist()


def _start(stream: DataFrame, sink, checkpoint: str,
           available_now: bool = True,
           output_mode: str | None = None) -> StreamingQuery:
    """Start ``stream`` into the foreachBatch ``sink`` on ``checkpoint``."""
    writer = stream.writeStream
    if output_mode:
        writer = writer.outputMode(output_mode)
    writer = writer.foreachBatch(sink).option("checkpointLocation",
                                              checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_ingest(ops_stream: DataFrame, ops_path: str, channels_path: str,
                 checkpoint: str, available_now: bool = True,
                 channel_fn=op_channels, mode: str = "head",
                 lib_lag: int = REVERSIBLE_LAG_BLOCKS) -> StreamingQuery:
    """foreachBatch sink: keyed op append + channel fan-out + _meta HWM.

    Each output is one ``manifest.ManifestStore`` append recording the
    batch id.  The three stage concurrently and commit in protocol order
    (ops, channels, ``_meta``) once all have staged (``_commit_outputs``),
    so a failed stage commits nothing, a replayed batch short-circuits
    on every output it already committed instead of writing it twice,
    and downstream maintenance (TTL, gc, compaction) is a manifest swap
    with no rename-recovery protocol.

    ``channel_fn`` derives the fan-out rows from each batch — mainnet
    ``op_channels`` by default; the sidechain ingest passes the fuller
    ``engine_channels`` (contract/action + trx + block notifications).

    ``mode`` is the reference's ``MEESEEKER_STREAM_MODE`` (meeseeker.rb:95;
    block_follower_job.rb:113-123): ``head`` ingests everything delivered
    (read-uncommitted); ``irreversible`` ingests only blocks at least
    ``lib_lag`` behind the delivered head (read-committed) — younger rows,
    channels included, wait in the ``<ops_path>_pending`` manifest store
    and land in a later batch once final (``_commit_irreversible``).
    Unknown modes abort, matching the reference.
    """
    from ..resume import STREAM_MODES
    if mode not in STREAM_MODES:
        raise ValueError(f"Unknown stream mode: {mode}")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if mode == "irreversible":
            # the checkpoint's persistent query id, which Spark sets on
            # the foreachBatch thread
            sc = batch_df.sparkSession.sparkContext
            _commit_irreversible(
                batch_df, ops_path, channels_path, batch_id, channel_fn,
                lib_lag, sc.getLocalProperty("sql.streaming.queryId"))
            return
        batch_df = batch_df.persist()
        try:
            _commit_outputs(batch_df, channel_fn, ops_path,
                            channels_path, batch_id)
        finally:
            batch_df.unpersist()

    return _start(ops_stream, _sink, checkpoint, available_now)


def _commit_outputs(ops: DataFrame, channel_fn, ops_path: str,
                    channels_path: str, batch_id: int) -> None:
    """The per-trigger commit shared by the mainnet and engine sinks:
    three manifest appends recording ``batch_id`` (``append_all``).
    The calling thread stages the key-deduplicated ops while one worker
    thread stages ``channel_fn(ops)`` and then the ``_meta`` HWM row,
    computed by one Spark aggregate and written from the driver as
    Arrow.  They commit only once all three staged, in protocol order —
    ops, channels, ``_meta`` — so a reader never sees the HWM ahead of
    the rows it covers, and a failed stage commits nothing.  ``ops``
    should be persisted: every stage reads it."""
    spark = ops.sparkSession

    def hwm() -> pa.Table:
        chain, last = ops.agg(F.first("chain"), F.max("block_num")).first()
        return pa.table({"chain": [chain], "last_block_num": [last],
                         "batch_id": [batch_id]}, schema=_META_ARROW)

    append_all([
        [(ManifestStore(spark, ops_path),
          lambda: ops.dropDuplicates(["key"])
          .withColumn("ingested_at", F.current_timestamp()))],
        [(ManifestStore(spark, channels_path), lambda: channel_fn(ops)),
         (ManifestStore(spark, ops_path + "_meta"), hwm)],
    ], batch_id)


def _hold_at_hwm(last: int | None):
    """The start decision for an empty source (files rotated away,
    nothing delivered yet): there is no tip to measure a gap against,
    so hold position at the HWM."""
    from ..resume import StartDecision
    return StartDecision(0 if last is None else last + 1, last is None,
                         "empty source; holding at high-water mark")


def resolve_stream_start(spark: SparkSession, blocks_dir: str, ops_path: str,
                         ttl_s: int | None = None):
    """B10 skip-ahead resume, wired to the pipeline: tip = the source's max
    block (the dynamic-global-properties probe in the reference,
    block_follower_job.rb:113-123), HWM = the store's _meta row, policy =
    resume.resolve_start_block (gap > ttl-worth-of-blocks → fresh sync at
    the tip — don't backfill what would expire before it's read).

    Returns the StartDecision; callers apply it as a pushed-down
    ``block_num >= start_block`` predicate on the stream, the declarative
    equivalent of the reference seeking its iterator."""
    from ..resume import resolve_start_block
    from ..schemas import DEFAULT_TTL_S

    tip = (
        spark.read.schema(BLOCKS).parquet(blocks_dir)
        .agg(F.max("block_num")).first()[0]
    )
    last = last_block_num(spark, ops_path)
    if tip is None:
        return _hold_at_hwm(last)
    return resolve_start_block(
        last, tip, DEFAULT_TTL_S if ttl_s is None else ttl_s)


def resolve_engine_stream_start(spark: SparkSession, engine_dir: str,
                                ops_path: str, ttl_s: int | None = None,
                                now=None):
    """Sidechain B10 variant, wired to the pipeline: staleness is measured
    in SECONDS of tip age (steem_engine/follower_job.rb:116-144 — the
    engine block cadence is irregular, so a block-count gap is
    meaningless); a stale tip starts fresh at tip+1, the next block to be
    produced."""
    import datetime as dt

    from ..resume import resolve_start_block_engine
    from ..schemas import DEFAULT_TTL_S

    # tip age must be SESSION-TZ-INDEPENDENT (r12 review: to_timestamp
    # parses the engine's UTC ISO string as session-local wall time, so
    # a vanilla non-UTC session — the driver's own shape — skewed the
    # age by the tz offset and could flip the fresh-sync decision near
    # the TTL boundary).  The fixed-width ISO format sorts
    # lexicographically = chronologically, so max() over the raw STRING
    # is the max instant; parse it in Python as the naive UTC it is.
    row = (
        spark.read.schema(ENGINE_BLOCKS).parquet(engine_dir)
        .agg(
            F.max("blockNumber").alias("tip"),
            F.max("timestamp").alias("tip_ts_str"),
        ).first()
    )
    last = last_block_num(spark, ops_path)
    if row["tip"] is None:
        return _hold_at_hwm(last)
    tip_ts = dt.datetime.strptime(row["tip_ts_str"],
                                  "%Y-%m-%dT%H:%M:%S")
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    tip_age_s = max(0.0, (now - tip_ts).total_seconds())
    return resolve_start_block_engine(
        last, row["tip"], tip_age_s,
        DEFAULT_TTL_S if ttl_s is None else ttl_s)


def compact_meta(spark: SparkSession, ops_path: str) -> int:
    """Fold the ``<ops>_meta`` HWM store to one row per chain (r14
    review).  The reference's HWM is ONE key, overwritten per block
    (``{chain}:meeseeker:last_block_num``, block_follower_job.rb:78,111);
    our sink APPENDS one row per micro-batch for replay idempotence, so
    a long-running stream accumulates ~29k rows/day at 3 s triggers and
    the ``last_block_num`` max-probe cost grows with stream AGE, not
    data.  Folding is safe at any moment: the folded row IS the running
    per-chain max, so readers see the same answer before, during and
    after, and a crash mid-cleanup that leaves stale older rows changes
    nothing (monotone max).  Returns files folded (0 = compact already).

    One ``ManifestStore.fold`` commit, which KEEPS the replayable
    batch-id tail (so a checkpointed replay of the newest trigger still
    short-circuits), then gc."""
    ms = open_committed(spark, ops_path + "_meta")
    if ms is None:
        return 0
    n = ms.fold(lambda df: df.groupBy("chain")
                .agg(F.max("last_block_num").alias("last_block_num"),
                     F.max("batch_id").alias("batch_id"))
                .coalesce(1))
    if not n:
        return 0
    # keep_versions=2: one version of grace for a reader that resolved
    # the just-superseded manifest before this commit — gc fused to the
    # commit with keep_versions=1 unlinked files a concurrent
    # last_block_num probe had already pinned (r15 durability review).
    # The leftover version is collected by the NEXT maintenance pass,
    # so growth stays bounded at one stale version per store.
    ms.gc(keep_versions=2)
    return n


def last_block_num(spark: SparkSession, ops_path: str) -> int | None:
    """The explicit HWM probe (reference: GET {chain}:meeseeker:last_block_num)."""
    try:
        meta = require_committed(spark, ops_path + "_meta").df()
    except FileNotFoundError:
        return None
    row = meta.agg(F.max("last_block_num").alias("m")).first()
    return row["m"] if row and row["m"] is not None else None


# ---------------------------------------------------------------------------
# Sidechain (engine) streaming ingestion (SURVEY §2 S5; the reference's
# second daemon — steem_engine/follower_job.rb:148-185 poll loop, :20-83
# sink).  The RPC poll-with-retry becomes a file/Delta stream here (same
# substitution as the mainnet block source); flatten/key/store/publish is
# the SAME declarative plan as batch flatten_engine_blocks — one code path.
# ---------------------------------------------------------------------------

def read_engine_stream(spark: SparkSession, engine_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """Engine block stream (Agent#block poll loop ≅ micro-batch file source;
    the nil-block sleep is the trigger interval)."""
    return _read_stream(spark, ENGINE_BLOCKS, engine_dir,
                        max_files_per_trigger)


def start_engine_ingest(engine_stream: DataFrame, ops_path: str,
                        channels_path: str, checkpoint: str,
                        chain: str = "hive_engine",
                        available_now: bool = True) -> StreamingQuery:
    """Engine store + full sidechain channel fan-out ({chain}:{contract},
    {chain}:{contract}:{action}, {chain}:[virtual_]transaction,
    {chain}:block — follower_job.rb:44-50,77,81-82) + _meta HWM
    (LAST_STEEM_ENGINE_BLOCK_NUM_KEY_SUFFIX analog, :76).

    Takes the RAW engine-block stream and flattens inside foreachBatch:
    flatten_engine_blocks' trx_index ordinal is a row_number window, which
    Structured Streaming forbids on unbounded inputs but is fine on each
    micro-batch DataFrame — and a micro-batch holds whole files = whole
    blocks, so the (block_num, trx_id)-keyed window sees every trx of a
    block and ordinals match batch mode exactly.  Commits exactly like
    start_ingest (ops, channels, ``_meta``; batch-id short-circuit)."""

    def _sink(raw_batch: DataFrame, batch_id: int) -> None:
        ops = flatten_engine_blocks(raw_batch, chain).persist()
        try:
            _commit_outputs(ops, engine_channels, ops_path,
                            channels_path, batch_id)
        finally:
            ops.unpersist()

    return _start(engine_stream, _sink, checkpoint, available_now)


# ---------------------------------------------------------------------------
# Witness-schedule publish-once (SURVEY §2 B12)
# ---------------------------------------------------------------------------

def read_schedule_stream(spark: SparkSession, sched_dir: str,
                         max_files_per_trigger: int | None = None
                         ) -> DataFrame:
    return _read_stream(spark, WITNESS_SCHEDULES, sched_dir,
                        max_files_per_trigger)


def schedule_publish_once(sched_stream: DataFrame) -> DataFrame:
    """The reference publishes a schedule only when next_shuffle_block_num
    advances (witness_schedule_job.rb:58-62) — here: streaming
    dropDuplicates keyed on the shuffle boundary (state bounded by the
    tiny key domain; one key per 63 s round)."""
    return sched_stream.select(
        "id", "next_shuffle_block_num", "current_shuffled_witnesses"
    ).dropDuplicates(["next_shuffle_block_num"])


def start_schedule_publisher(sched_stream: DataFrame, out_path: str,
                             checkpoint: str) -> StreamingQuery:
    """Publish-once log: each trigger is one ManifestStore append whose
    rows carry their ``batch_id`` as a physical column (as ``_meta``
    rows do) — the ordering input of ScheduleStore's newest_by_key."""
    deduped = schedule_publish_once(sched_stream)
    log = ManifestStore(sched_stream.sparkSession, out_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not log.append(batch_df.withColumn("batch_id", F.lit(batch_id)),
                          batch_id):
            # a replayed batch short-circuits the append, but the
            # publish-once dedup is stateful: Spark refuses to commit a
            # batch whose state stores never ran, so drain it
            batch_df.write.format("noop").mode("overwrite").save()

    return _start(deduped, _sink, checkpoint, output_mode="update")
