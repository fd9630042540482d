"""In-memory span tracer for the traced benchmark run.

The tracer wraps the program's public entry points from the outside
(``Tracer.patch``), records one span per call — name, start, end, parent
span, thread — and keeps every span in memory until ``dump`` writes them
out at the end of the run.  A span's parent is the innermost open span on
the same thread, so a query span owns the ``ManifestStore.df`` and
``glob_to_filter`` calls made while it is open.  Self time is a span's
duration minus the part of it covered by its direct children.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1] if stack else None,
               "name": name, "thread": threading.get_ident(),
               "start": time.perf_counter(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        its traced wrapper until ``restore``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis -----------------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name]

    def _covered_s(self) -> dict[int, float]:
        """Per span id: seconds of it covered by its direct children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        return {sid: _union_length(iv) for sid, iv in children.items()}

    def split_ms(self, prefix: str) -> list[tuple[float, float]]:
        """(self ms, children ms) of every span whose name starts with
        ``prefix``."""
        covered = self._covered_s()
        out = []
        for s in self.spans:
            if s["name"].startswith(prefix):
                c = covered.get(s["id"], 0.0)
                out.append(((s["end"] - s["start"] - c) * 1e3, c * 1e3))
        return out

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name."""
        covered = self._covered_s()
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - covered.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1e3
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_ms": self.self_times_ms()}, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
