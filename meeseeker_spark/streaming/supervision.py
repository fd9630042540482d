"""Control-flow supervision (SURVEY §2 E1/E2).

Crash-restart with exponential backoff: the reference wraps its sync task
in an infinite retry loop, backoff doubling 0.01 s → 30 s cap, reset on
success (/root/reference/bin/meeseeker:25-33).  A pure driver-side
policy with an injectable sleep, so it unit-tests without wall-clock
time.  ``sync`` is its one caller.  The reference's ``max_keys``
admission stall (B11) has no second implementation here: a stream's
intake per trigger is bounded by ``maxFilesPerTrigger``
(``read_*_stream(max_files_per_trigger=)``).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

BASE_BACKOFF_S = 0.01
CAP_S = 30.0


def run_with_restarts(fn: Callable[[], T], max_restarts: int | None = None,
                      sleep: Callable[[float], None] = time.sleep) -> T:
    """Run fn until it returns; on exception sleep the current backoff and
    double it, from ``BASE_BACKOFF_S`` up to ``CAP_S``.  max_restarts=None
    → retry forever (the reference's daemon mode); bounded in tests."""
    backoff = BASE_BACKOFF_S
    attempts = 0
    while True:
        try:
            return fn()
        # Exception, NOT BaseException (r12 review): the reference's
        # `rescue => e` is StandardError — KeyboardInterrupt/SystemExit
        # must kill the daemon, not be swallowed into a silent retry
        # (one Ctrl-C during fn() used to restart the sync loop)
        except Exception:  # noqa: BLE001 - supervision boundary
            attempts += 1
            if max_restarts is not None and attempts > max_restarts:
                raise
            sleep(backoff)
            backoff = min(backoff * 2, CAP_S)
