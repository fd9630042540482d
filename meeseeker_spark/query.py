"""Consumer query surface over the ops store (SURVEY §2 C1–C6).

The reference's store is Redis keyed by the composite string; consumers do
SCAN globs, GETs, and `find block/trx` (README.md:250-309, bin/meeseeker:34).
Here the store is a manifest-committed parquet table (manifest.ManifestStore)
whose files are range-clustered on (chain, block_num) — so C1 patterns become
pushed column predicates with min/max row-group pruning, and the fat
``value`` column is only read when the query projects it (column pruning).

At 100 TB the same layout holds: (chain, block_num) clustering
(Delta/Iceberg z-order or hourly sub-partitions on a real deployment);
nothing here assumes single-node.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from .keys import glob_to_filter, parse_key
from .manifest import ManifestStore, open_committed

# range partitions per OpsStore.write: the TOTAL writer count across all
# chains (a two-chain frame splits these tasks between the chains)
_WRITERS = 8


def newest_by_key(df: DataFrame, key: str,
                  batch_col: str = "batch_id") -> DataFrame:
    """Deterministic last-writer-wins key dedup (r15, shared by
    ScheduleStore.df and ``verify --witness``): keep the row with the
    highest ``batch_col`` per key — the newest publish is the
    authoritative one.  Without a batch column (a raw capture), or
    on equal batches, the total struct order over the payload breaks the
    tie, so two readers of the same store always agree — never
    ``dropDuplicates``' partition-order luck.  One shuffle on the key,
    same cost class as dropDuplicates.  All payload columns must be
    orderable types (parquet publish rows are)."""
    others = [c for c in df.columns if c not in (key, batch_col)]
    ordered = ([batch_col] if batch_col in df.columns else []) + others
    return (df.groupBy(key)
            .agg(F.max(F.struct(*ordered)).alias("_newest"))
            .select(key, *[F.col(f"_newest.{c}").alias(c)
                           for c in others]))


class OpsStore:
    """Keyed op table (the engine's Redis analog; SURVEY §1.2)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- write side (S7) ----------------------------------------------------

    @staticmethod
    def write(ops: DataFrame, path: str) -> None:
        """Replace the store's contents with ``ops`` in one manifest
        overwrite commit; ``ingested_at`` drives TTL retention (O-3).

        The shuffle is a RANGE partition on (chain, block_num), NOT a hash
        on chain alone — a chain-only repartition means ONE writer task
        per chain, a serial choke at any real volume. Range partitioning
        keeps every output file a contiguous block range (min/max
        row-group pruning stays as sharp as a global sort).  Superseded
        files stay until gc (``compact`` / ``expire --gc``)."""
        if "ingested_at" not in ops.columns:
            ops = ops.withColumn("ingested_at", F.current_timestamp())
        spark = ops.sparkSession
        ms = open_committed(spark, path) or ManifestStore(spark, path)
        ms.overwrite(ops.repartitionByRange(_WRITERS, "chain", "block_num")
                     .sortWithinPartitions("block_num", "trx_id",
                                           "trx_index"))

    def df(self) -> DataFrame:
        """The committed table.  ``chain`` is a data column; key-glob
        predicates push down as column filters with min/max row-group
        pruning.  Raises FileNotFoundError until the first commit and
        ValueError for a path that is not a manifest store."""
        ms = open_committed(self.spark, self.path)
        if ms is None:
            raise FileNotFoundError(
                f"{self.path} has no committed manifest version")
        return ms.df()

    # -- C1: key-pattern scan ----------------------------------------------

    def scan(self, pattern: str) -> DataFrame:
        """SCAN MATCH '<glob>' → predicate-pushed filtered scan."""
        return self.df().where(glob_to_filter(pattern))

    # -- C2: point lookup ---------------------------------------------------

    def get(self, key: str) -> DataFrame:
        """GET <key> → at most one row, all segment predicates pushed.
        A key with a non-numeric block_num/trx_index segment can exist in
        no store (numeric segments are always rendered as digits), so it
        returns an empty result like Redis GET on a missing key — never
        an int() crash."""
        seg = parse_key(key)
        df = self.df()
        from .keys import _fits_long
        for name, val in seg.items():
            col = F.col(name)
            if name in ("block_num", "trx_index"):
                # oversized digit strings can't equal an int64 column and
                # crash py4j as Python ints (r12 review) — empty result,
                # like Redis GET on a missing key
                if not val.isdigit() or not _fits_long(val):
                    return df.where(F.lit(False))
                df = df.where(col == int(val))
            else:
                df = df.where(col == val)
        return df

    # -- C3: find block / find trx -------------------------------------------

    def find_block(self, block_num: int, chain: str | None = None) -> DataFrame:
        df = self.df().where(F.col("block_num") == block_num)
        if chain:
            df = df.where(F.col("chain") == chain)
        return df.select("key", "value")

    def find_trx(self, trx_id: str, chain: str | None = None) -> DataFrame:
        df = self.df().where(F.col("trx_id") == trx_id)
        if chain:
            df = df.where(F.col("chain") == chain)
        return df.select("key", "value")

    # -- C6: existence probe --------------------------------------------------

    def has_block(self, block_num: int, chain: str | None = None) -> bool:
        df = self.df().where(F.col("block_num") == block_num)
        if chain:
            df = df.where(F.col("chain") == chain)
        return bool(df.limit(1).count() > 0)

    # -- C4: reset (bulk delete by chain prefix) ------------------------------

    def reset(self, chain: str = "all") -> None:
        """Bulk delete by chain prefix: one atomic overwrite commit of the
        surviving rows (`all` commits the empty table, which keeps the
        schema readable); recorded batch ids are cleared, matching the
        reference's reset-then-fresh-sync semantics (a retained
        checkpoint would otherwise short-circuit the re-ingest of the
        very keys just deleted).

        The ``<path>_meta`` HWM sibling and the ``<path>_pending``
        irreversible staging dir are dropped too (r13 review): the
        reference's reset deletes ``{chain}:*`` (Rakefile:101-126),
        which INCLUDES ``{chain}:meeseeker:last_block_num``
        (block_follower_job.rb:78) — ``redis.get`` of the dropped key
        then makes the next sync a fresh start (:111).  Leaving our
        _meta in place broke exactly that: resolve_stream_start read
        the STALE high-water mark and resumed past the deleted range,
        which was then never re-ingested; a surviving _pending would
        fold PRE-reset rows into the fresh store.  The HWM is
        store-scoped (last_block_num aggregates max over every chain
        in the store), so a chain-specific reset also invalidates it —
        deleting is the conservative direction: the next sync makes a
        fresh-START decision exactly like the reference's
        reset-then-new-sync (with no HWM, resolve_start_block under
        ``--resume-policy`` SKIPS AHEAD to the tip — it does not
        backfill the deleted range; a full re-ingest requires syncing
        without ``--resume-policy``, or an explicit ``--at-block``).
        The channels store is NOT touched: the reference stores no
        channel keys (pub/sub is transient) — our publish log is an
        additive surface outside reset's key-drop contract.

        The keep filter is NULL-safe (ADVICE r6): ``chain != 'x'``
        alone would silently drop NULL-chain rows.  A missing or
        never-committed path resets as a no-op; a path holding parquet
        but no committed manifest raises BEFORE ``_meta`` / ``_pending``
        are touched (r15 durability review: a silent nothing-deleted
        no-op that still destroyed the HWM)."""
        ms = open_committed(self.spark, self.path)
        self._drop_sync_state()
        if ms is None:
            return
        cur = ms.df()
        keep = cur.limit(0) if chain == "all" \
            else cur.where((F.col("chain") != chain)
                           | F.col("chain").isNull())
        ms.overwrite(keep)
        # one version of grace for concurrent readers of the
        # pre-reset manifest (see compact_meta's gc note)
        ms.gc(keep_versions=2)

    def _drop_sync_state(self) -> None:
        """Delete the HWM (_meta) and irreversible staging (_pending)
        siblings — reset's key-drop contract (see reset's docstring);
        _pending's .tmp/.old swap remnants and batch-id stamp go with
        the dir."""
        for suffix in ("_meta", "_pending", "_pending.tmp",
                       "_pending.old"):
            p = self.path + suffix
            if os.path.exists(p):
                shutil.rmtree(p)


class ScheduleStore:
    """Keyed scan surface over the witness-schedule publish log
    (start_schedule_publisher's manifest store).

    The reference only PUBLISHES schedules (witness_schedule_job.rb:60,
    channel ``{chain}:witness:schedule``) and stores nothing; this view
    is ADDITIVE — it derives one key per published row,
    ``{chain}:witness:schedule:{next_shuffle_block_num}`` (the B12
    publish-once boundary is the natural key), so the publish log answers
    the same scan/get/find calls as the ops store through the same glob
    translator.  Wire channel names are untouched.

    The view carries NULL ``trx_id``/``trx_index``/``op_type``/
    ``contract``/``action`` columns so any ops-shaped glob predicate
    binds and (correctly) matches nothing, and the full schedule payload
    rides in ``value`` as JSON — the shape the reference publishes."""

    def __init__(self, spark: SparkSession, path: str, chain: str = "hive"):
        self.spark = spark
        self.path = path
        self.chain = chain

    def df(self) -> DataFrame:
        from .schemas import WITNESS_SCHEDULES
        import pyspark.sql.types as T

        pub_schema = T.StructType(
            [f for f in WITNESS_SCHEDULES.fields
             if f.name in ("id", "next_shuffle_block_num",
                           "current_shuffled_witnesses")])
        ms = open_committed(self.spark, self.path)
        if ms is not None:
            # key-dedup: next_shuffle_block_num is the publish-once
            # boundary, so duplicates can only come from a
            # checkpoint-wiped republish — the reader absorbs it (r14).
            # The survivor is DETERMINISTIC (r15): newest batch_id wins
            # (newest_by_key), the same rule the verify CLI applies, so
            # both surfaces agree on the survivor.
            raw = newest_by_key(ms.df(), "next_shuffle_block_num")
        else:
            raw = self.spark.createDataFrame([], pub_schema)
        return raw.select(
            F.lit(self.chain).alias("chain"),
            F.col("next_shuffle_block_num").alias("block_num"),
            F.lit(None).cast("string").alias("trx_id"),
            F.lit(None).cast("int").alias("trx_index"),
            F.lit(None).cast("string").alias("op_type"),
            F.lit(None).cast("string").alias("contract"),
            F.lit(None).cast("string").alias("action"),
            F.concat_ws(":", F.lit(self.chain), F.lit("witness"),
                        F.lit("schedule"),
                        F.col("next_shuffle_block_num")).alias("key"),
            F.to_json(F.struct("id", "next_shuffle_block_num",
                               "current_shuffled_witnesses")).alias("value"),
        )

    def scan(self, pattern: str) -> DataFrame:
        # schedule keys are 4 segments — the ops translator's positional
        # bindings (op_type == tail etc.) assume 5/6 and would drop
        # every schedule row on anchored patterns (r15 review)
        from .keys import schedule_glob_filter
        return self.df().where(schedule_glob_filter(pattern))


class UnifiedStore:
    """One scan/get/find surface over EVERY keyed artifact a deployment
    writes — mainnet ops and engine ops (both live in one manifest
    OpsStore after ``compact``) plus the witness-schedule
    publish log — ops rows through ``keys.glob_to_filter`` and schedule
    rows through ``keys.schedule_glob_filter`` (VERDICT r3 item 8; the
    per-shape split is r15 — one translator over both shapes dropped
    schedule rows on anchored patterns).  Schedule rows ride the ops row
    shape with NULL trx columns, so ops globs never match them and
    schedule globs resolve by chain predicate + anchored key residual."""

    def __init__(self, spark: SparkSession, ops_path: str,
                 schedules_path: str | None = None, chain: str = "hive"):
        self.ops = OpsStore(spark, ops_path)
        self.schedules = (ScheduleStore(spark, schedules_path, chain)
                          if schedules_path else None)

    def df(self) -> DataFrame:
        df = self.ops.df()
        if self.schedules is not None:
            df = df.unionByName(self.schedules.df(),
                                allowMissingColumns=True)
        return df

    def scan(self, pattern: str) -> DataFrame:
        # per-shape translation (r15 review): the ops translator over
        # the unified frame dropped schedule rows on anchored patterns
        # (it binds op_type == tail; schedule rows carry NULL trx
        # columns by design) and returned lit(False) for an exact
        # 4-segment schedule key.  Each side gets its own sound filter;
        # ops globs still never match schedule rows (the schedule
        # residual is anchored on the 4-segment key shape).
        ops_rows = self.ops.df().where(glob_to_filter(pattern))
        if self.schedules is None:
            return ops_rows
        return ops_rows.unionByName(self.schedules.scan(pattern),
                                    allowMissingColumns=True)

    def get(self, key: str) -> DataFrame:
        parts = key.split(":")
        if len(parts) == 4 and parts[1:3] == ["witness", "schedule"]:
            if self.schedules is None:
                raise ValueError(
                    f"schedule key {key!r} but no schedules path configured")
            return self.schedules.df().where(F.col("key") == key)
        return self.ops.get(key)

    def find_block(self, block_num: int,
                   chain: str | None = None) -> DataFrame:
        df = self.df().where(F.col("block_num") == block_num)
        if chain:
            df = df.where(F.col("chain") == chain)
        return df.select("key", "value")

    def find_trx(self, trx_id: str, chain: str | None = None) -> DataFrame:
        return self.ops.find_trx(trx_id, chain)

    def has_block(self, block_num: int, chain: str | None = None) -> bool:
        df = self.df().where(F.col("block_num") == block_num)
        if chain:
            df = df.where(F.col("chain") == chain)
        return bool(df.limit(1).count() > 0)
