"""Custom stateful streaming operator: TTL'd keyed liveness state.

SURVEY §1.2 maps the reference's per-key TTL (redis SET+EXPIRE,
/root/reference/lib/meeseeker/block_follower_job.rb:55-56) onto two Spark
disposition paths: retention DELETEs on the materialized store
(manifest.ManifestStore.expire) — and, in *pure streaming state*,
GroupState timeouts.  This module is the second path:
``applyInPandasWithState`` with an event-time timeout per key.

Semantics: every key emits a ``live`` row when (re)observed; when the
watermark passes ``last_seen + ttl`` the key's state times out, emits one
``expired`` tombstone, and is removed — so state size is bounded by the
live-key working set exactly like the reference's Redis store under
``expire_keys`` (meeseeker.rb:99). Re-SETting a key pushes its expiry
forward, matching redis EXPIRE-on-every-SET.

Scale shape: state is hash-partitioned by key across executors; each
micro-batch touches only observed groups plus timed-out ones. Arrow
batches cross the Python boundary (this is the one operator family where
Python is justified — per-key mutable state with timeouts has no
DataFrame-native equivalent short of transformWithState).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

TTL_OUTPUT = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("status", T.StringType()),      # live | expired
    T.StructField("last_seen_ms", T.LongType()),
])

_TTL_STATE = T.StructType([
    T.StructField("last_seen_ms", T.LongType()),
])


def ttl_keyed_state(keyed: DataFrame, ttl_seconds: int,
                    lateness: str = "18 seconds") -> DataFrame:
    """TTL liveness over a streaming (key, timestamp) DataFrame.

    ``keyed`` must be a streaming DataFrame with a ``key`` string column
    and an event-time ``timestamp`` column. Returns an update-mode stream
    of (key, status, last_seen_ms): ``live`` on every observation,
    ``expired`` exactly once when the watermark passes last_seen + ttl.

    ``ttl_seconds < 0`` is the subsystem-wide "never expire" sentinel
    (retention/resume honor -1 the same way): no timeout is ever set,
    so keys stay live forever (r15 runtime review: the raw arithmetic
    silently INVERTED -1 into expire-next-batch — mx − 1000 ms sits
    below the watermark, and the watermark clamp fired every key one
    batch after observation).
    """
    import pandas as pd

    never_expire = ttl_seconds < 0

    def fn(key: tuple, pdfs: Iterator["pd.DataFrame"],
           state: Any) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            (last_ms,) = state.get
            state.remove()
            yield pd.DataFrame({"key": [key[0]], "status": ["expired"],
                                "last_seen_ms": [last_ms]})
            return
        mx = 0
        for pdf in pdfs:
            mx = max(mx, int(pdf["timestamp"].max().value // 1_000_000))
        if state.exists:
            (prev,) = state.get
            mx = max(mx, prev)
        state.update((mx,))
        if not never_expire:
            # expiry must sit beyond the current watermark or Spark
            # rejects it (an op later than ttl behind the watermark
            # expires next batch)
            state.setTimeoutTimestamp(
                max(mx + ttl_seconds * 1000,
                    state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame({"key": [key[0]], "status": ["live"],
                            "last_seen_ms": [mx]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        keyed.withWatermark("timestamp", lateness)
        .groupBy("key")
        .applyInPandasWithState(fn, TTL_OUTPUT, _TTL_STATE, "update",
                                GroupStateTimeout.EventTimeTimeout)
    )


_TTL_TWS_STATE = T.StructType([
    T.StructField("last_seen_ms", T.LongType()),
    T.StructField("timer_ms", T.LongType()),
])


def ttl_keyed_state_tws(keyed: DataFrame, ttl_seconds: int,
                        lateness: str = "18 seconds") -> DataFrame:
    """``ttl_keyed_state`` on the transformWithState engine (Spark 4's
    successor to applyInPandasWithState) — same contract, same output
    schema, byte-identical rows on the same input (pinned by test).

    Differences that matter at scale: state lives in RocksDB (the only
    provider transformWithState supports — the session must set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``RocksDBStateStoreProvider`` before the query starts), so the live
    key working set is bounded by disk, not executor heap; and expiry is
    a first-class per-key timer rather than a timeout timestamp, so a
    re-SET deletes the stale timer instead of overwriting it.

    Environment note: the TWS state-server protocol speaks protobuf, so
    the ``protobuf`` package must be importable in the Python workers;
    the equivalence test import-skips where it is absent.
    """

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ttl_ms = ttl_seconds * 1000
    never_expire = ttl_seconds < 0   # same sentinel as ttl_keyed_state

    class _TTLProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._seen = handle.getValueState("seen", _TTL_TWS_STATE)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            mx = 0
            for pdf in rows:
                mx = max(mx, int(pdf["timestamp"].max().value // 1_000_000))
            if self._seen.exists():
                prev, prev_timer = self._seen.get()
                mx = max(mx, prev)
                if prev_timer:
                    self._handle.deleteTimer(prev_timer)
            if never_expire:
                timer = 0            # sentinel: no timer registered
            else:
                # same watermark clamp as the GroupState path: a key
                # already ttl behind the watermark must still fire (next
                # batch), and the engine rejects timers at/behind the
                # watermark
                timer = max(mx + ttl_ms,
                            timerValues.getCurrentWatermarkInMs() + 1)
                self._handle.registerTimer(timer)
            self._seen.update((mx, timer))
            yield pd.DataFrame({"key": [key[0]], "status": ["live"],
                                "last_seen_ms": [mx]})

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd

            last_ms, _ = self._seen.get()
            self._seen.clear()
            yield pd.DataFrame({"key": [key[0]], "status": ["expired"],
                                "last_seen_ms": [last_ms]})

        def close(self) -> None:
            pass

    return (
        keyed.withWatermark("timestamp", lateness)
        .groupBy("key")
        .transformWithStateInPandas(_TTLProcessor(), TTL_OUTPUT,
                                    "update", "eventTime")
    )
