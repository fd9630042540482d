"""Resume / skip-ahead policy (SURVEY §2 B10).

The reference decides where to start from the HWM key + chain tip
(/root/reference/lib/meeseeker/block_follower_job.rb:106-139): resume from
last+1 normally; start fresh at the tip when the gap exceeds expire_keys/3
(don't backfill what would expire before it's read); with TTL disabled,
jump to ``max(last+1, tip)`` — the downtime gap is NOT backfilled
(block_follower_job.rb:126 ``[last_block_num, block_num].max``; an
operator wanting a full backfill must pass an explicit start block, the
reference's ``at_block_num``).  In Spark the *mechanism* is the
checkpoint; this policy decides
the ``startingOffsets`` equivalent when a checkpoint is absent or stale.
Pure function → unit-testable without a cluster.

Which "tip" the gap is measured against is the stream-mode policy
(meeseeker.rb:95 ``MEESEEKER_STREAM_MODE``; block_follower_job.rb:113-123):
``head`` reads the not-yet-irreversible chain head (read-uncommitted),
``irreversible`` waits for finality (read-committed).  The file source
carries no dgpo, so the gap is measured against the source's max block,
and the irreversible mode holds young rows back in the ingest sink
(``streaming.pipeline.start_ingest``).
"""

from __future__ import annotations

from dataclasses import dataclass

from .schemas import BLOCK_INTERVAL_S, DEFAULT_TTL_S

STREAM_MODES = ("head", "irreversible")


@dataclass(frozen=True)
class StartDecision:
    start_block: int
    fresh_sync: bool   # True → gap too large, skipped ahead to the tip
    reason: str


def resolve_start_block(last_block: int | None, tip_block: int,
                        ttl_s: int = DEFAULT_TTL_S) -> StartDecision:
    """Mirror of the reference's skip-ahead heuristic.

    - no HWM → start at tip ("Starting new sync")
    - ttl == -1 → max(last+1, tip): keys never expire, but don't re-fetch
      what the chain already moved past us
    - gap > expire_keys/3 *blocks* → start at tip.  The reference compares
      the gap IN BLOCKS against ``expire_keys / 3`` IN SECONDS
      (block_follower_job.rb:129-132) — with the default 86 400 s TTL the
      threshold is 28 800 blocks (a full day of 3 s blocks), i.e. resume as
      long as ≤ ttl/BLOCK_INTERVAL blocks behind; the /3 and the ×3 of
      seconds-per-block cancel.
    - else → resume at last+1
    """
    if last_block is None:
        return StartDecision(tip_block, True, "no high-water mark; new sync")
    nxt = last_block + 1
    if ttl_s == -1:
        start = max(nxt, tip_block)
        return StartDecision(start, start != nxt,
                             "ttl disabled; resume at max(hwm+1, tip)")
    max_backfill = ttl_s // BLOCK_INTERVAL_S   # == expire_keys(s) / 3
    gap = tip_block - nxt
    if gap > max_backfill:
        return StartDecision(
            tip_block, True,
            f"gap {gap} blocks > expire_keys/3 threshold {max_backfill};"
            " new sync")
    return StartDecision(nxt, False, f"resuming {gap} blocks behind tip")


def resolve_start_block_engine(last_block: int | None, tip_block: int,
                               tip_age_s: float,
                               ttl_s: int = DEFAULT_TTL_S) -> StartDecision:
    """Sidechain variant (steem_engine/follower_job.rb:116-144): staleness
    is measured in SECONDS — how old the chain's latest block timestamp is
    vs wall clock — not in blocks, because the sidechain block cadence is
    irregular. On a new or stale sync the reference starts at tip+1 (the
    next block to be produced), not the tip itself.

    - no HWM → new sync at tip+1
    - ttl == -1 → max(hwm+1, tip): keys never expire, but the downtime
      gap is not backfilled (same jump as the mainnet policy)
    - tip_age_s > ttl → everything resumable already expired; tip+1
    - else → resume at hwm+1
    """
    if last_block is None:
        # the no-HWM branch OUTRANKS the ttl sentinel (r15 runtime
        # review: checking ttl==-1 first made a brand-new sync with TTL
        # disabled report fresh_sync=False with a "resuming" reason —
        # the CLI then printed "Resuming from block N" for a store with
        # no high-water mark at all, and any caller branching on
        # fresh_sync mislabeled a genuinely new sync)
        return StartDecision(tip_block + 1, True,
                             "no high-water mark; new sync")
    nxt = last_block + 1
    if ttl_s == -1:
        start = max(nxt, tip_block)
        return StartDecision(start, start != nxt,
                             "ttl disabled; resume at max(hwm+1, tip)")
    if tip_age_s > ttl_s:
        return StartDecision(
            tip_block + 1, True,
            f"chain tip {tip_age_s:.0f}s stale > ttl {ttl_s}s; new sync")
    return StartDecision(nxt, False,
                         f"resuming from sidechain block {nxt}")
