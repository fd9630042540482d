"""E1 supervision policy: crash-restart with capped exponential backoff."""

from __future__ import annotations

import pytest

from meeseeker_spark.streaming.supervision import run_with_restarts


def test_restart_backoff_doubles_and_caps():
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 14:
            raise RuntimeError("boom")
        return "ok"

    out = run_with_restarts(flaky, max_restarts=20, sleep=sleeps.append)
    assert out == "ok"
    assert sleeps[0] == pytest.approx(0.01)
    assert sleeps[1] == pytest.approx(0.02)
    assert max(sleeps) == 30.0  # cap reached (0.01·2^12 > 30)
    assert len(sleeps) == 13


def test_restart_gives_up_after_max():
    def always_fails():
        raise RuntimeError("nope")

    with pytest.raises(RuntimeError):
        run_with_restarts(always_fails, max_restarts=3, sleep=lambda s: None)


def test_run_with_restarts_lets_interrupts_through():
    """Regression (r12 review): the supervision boundary retried
    BaseException, so a KeyboardInterrupt raised inside fn() was
    swallowed into a backoff-retry — one Ctrl-C could not kill the
    daemon loop.  The reference's `rescue => e` is StandardError;
    interrupts and SystemExit must propagate immediately."""
    import pytest

    calls = {"n": 0}

    def interrupted():
        calls["n"] += 1
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        run_with_restarts(interrupted, max_restarts=None,
                          sleep=lambda s: None)
    assert calls["n"] == 1   # no retry happened

    def exits():
        raise SystemExit(3)

    with pytest.raises(SystemExit):
        run_with_restarts(exits, max_restarts=None, sleep=lambda s: None)


