"""Composite keys and Redis-glob → Catalyst-predicate translation.

The reference's only index is the composite string key
``chain:block_num:trx_id:trx_index:op_type`` (mainnet, 5 segments;
/root/reference/lib/meeseeker/block_follower_job.rb:19,45) or
``chain:block_num:trx_id:trx_index:contract:action`` (sidechain, 6 segments;
steem_engine/follower_job.rb:57), scanned with Redis globs like
``hive:*:vote`` (README.md:250-309).

Here key segments are real columns; the glob becomes column predicates that
Catalyst pushes into the parquet scan (partition pruning on ``chain``,
min/max row-group pruning on ``block_num``).  Globs with intra-segment
wildcards fall back to an rlike residual on the derived ``key`` column —
still correct, just not prunable beyond whatever segment predicates were
extracted.
"""

from __future__ import annotations

import fnmatch
import functools
import operator
import re
from dataclasses import dataclass

from pyspark.sql import Column, functions as F

MAINNET_SEGMENTS = ("chain", "block_num", "trx_id", "trx_index", "op_type")
SIDECHAIN_SEGMENTS = ("chain", "block_num", "trx_id", "trx_index",
                      "contract", "action")

_HEX40 = re.compile(r"^[0-9a-f]{40}$")
_CANONICAL_INT = re.compile(r"0|[1-9][0-9]*")


def key_int(seg: str) -> int | None:
    """The value a ``block_num``/``trx_index`` key segment literal names,
    or None when it names none.  Keys render those columns as ASCII
    ``0`` or ``[1-9][0-9]*`` within int64, so any other literal — a
    leading zero (``0123``), non-ASCII digits (``١٢٣``, ``²``), an
    int64-oversized number — equals no stored segment.  (``str.isdigit``
    accepts all of them, and ``int`` folds ``0123`` and ``١٢٣`` onto
    123 or raises on ``²``.)  The length check keeps ``int`` off
    oversized strings, which py4j could not pass as a long anyway."""
    if len(seg) <= 19 and _CANONICAL_INT.fullmatch(seg) \
            and int(seg) <= 0x7FFF_FFFF_FFFF_FFFF:
        return int(seg)
    return None


def _wild(seg: str) -> bool:
    return any(ch in seg for ch in "*?[")


def key_column(sidechain: bool = False) -> Column:
    """Derived composite key, kept for wire-compat with reference consumers."""
    segs = SIDECHAIN_SEGMENTS if sidechain else MAINNET_SEGMENTS
    return F.concat_ws(":", *[F.col(s) for s in segs])


def parse_key(key: str) -> dict[str, str]:
    """Destructure a composite key (the reference's test invariant:
    ``n, b, t, i, o = key.split(':')``, meeseeker_test.rb:38)."""
    parts = key.split(":")
    if len(parts) == 5:
        names = MAINNET_SEGMENTS
    elif len(parts) == 6:
        names = SIDECHAIN_SEGMENTS
    else:
        raise ValueError(f"bad key (want 5 or 6 segments): {key!r}")
    return dict(zip(names, parts))


def _glob_to_regex(pattern: str) -> str:
    # Redis glob: * any chars (including ':'), ? one char, [..] class.
    # Spark RLIKE has Java find() substring semantics — fnmatch.translate
    # only \Z-anchors the end, so a bare residual could match mid-string
    # (pattern 'vote' inside key '...:unvote').  Anchor both ends.
    # Redis negates classes with [^..]; fnmatch only honors [!..] and
    # would treat '^' as a literal set member — matching exactly the
    # rows Redis excludes (r15 review).
    return "^(?:" + fnmatch.translate(pattern.replace("[^", "[!")) + ")$"


def _split_segments(pattern: str) -> list[str]:
    """Split a glob on ':' EXCEPT inside a [...] class (r15 review: a
    class body containing ':' — 'hive:*:[a:b]' — split naively, and the
    fragment after the class was bound as a bogus op_type equality that
    dropped every row the glob matches).

    Class scanning mirrors ``fnmatch.translate`` exactly — the dialect
    this module implements (see translate_glob's GLOB DIALECT note) —
    because the rlike residual IS fnmatch's regex and a positional
    predicate built from a DIFFERENT parse can contradict it (r15
    second review): in fnmatch a ']' directly after '[' / '[!' / '[^'
    is a literal class member, not the terminator — '[]:]' is a class
    matching ']' or ':', and closing it at the first ']' mis-counts the
    segments and binds trx_index against the literal ']7', lit(False)
    for keys the residual matches.  An unterminated '[' is a literal
    character (fnmatch again), so the ':'s after it are real
    separators."""
    segs: list[str] = []
    buf: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "[":
            j = i + 1
            if j < n and pattern[j] in "!^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1          # leading ']' is a literal member
            k = pattern.find("]", j)
            if k < 0:
                buf.append(ch)  # unterminated class: literal '['
                i += 1
            else:
                buf.append(pattern[i:k + 1])
                i = k + 1
            continue
        if ch == ":":
            segs.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    segs.append("".join(buf))
    return segs


def schedule_glob_filter(pattern: str) -> Column:
    """Glob filter for the 4-segment witness-schedule keys
    (``{chain}:witness:schedule:{n}`` — query.ScheduleStore).
    ``glob_to_filter``'s positional bindings assume 5/6-segment ops
    keys, so an anchored literal tail would bind ``op_type == tail``
    and drop every schedule row (their trx columns are NULL by design —
    r15 review: an exact-key scan of a schedule key returned empty).
    Here: chain prune when the head is literal + the exact anchored
    residual — correct for every glob over this key shape."""
    if "\\" in pattern:
        raise ValueError(_BACKSLASH_MSG)
    segs = _split_segments(pattern)
    residual = F.col("key").rlike(_glob_to_regex(pattern))
    head = segs[0] if segs else ""
    if head and not _wild(head):
        return (F.col("chain") == head) & residual
    return residual


_BACKSLASH_MSG = (
    "Redis backslash escapes are not supported by this glob translator "
    "(fnmatch has no escape syntax — the pattern would be silently "
    "mis-translated); rewrite the literal as a [c] class instead")


Eq = tuple[str, object]


@dataclass(frozen=True)
class Glob:
    """One parse of a key glob (``translate_glob``).  ``terms`` are ANDed;
    each is a tuple of ``(column, value)`` equalities ORed together, so a
    one-equality term is a *binding* every matching key satisfies.
    ``residual`` is the anchored fnmatch regex on ``key`` that restores
    glob-exactness, None when the terms alone are exact; ``never`` marks
    a glob no stored key can match."""
    terms: tuple[tuple[Eq, ...], ...] = ()
    residual: str | None = None
    never: bool = False

    @property
    def bindings(self) -> dict[str, object]:
        """``{column: value}`` for every column the glob binds to one
        value."""
        return {t[0][0]: t[0][1] for t in self.terms if len(t) == 1}

    @property
    def exact(self) -> bool:
        """True when the terms alone select exactly the matching keys."""
        return self.residual is None

    def column(self) -> Column:
        """The Catalyst predicate: the terms ANDed with the residual."""
        if self.never:
            return F.lit(False)
        preds = [functools.reduce(operator.or_,
                                  (F.col(c) == v for c, v in t))
                 for t in self.terms]
        if self.residual is not None:
            preds.append(F.col("key").rlike(self.residual))
        return functools.reduce(operator.and_, preds) if preds \
            else F.lit(True)


def glob_to_filter(pattern: str | Glob) -> Column:
    """The Catalyst predicate of a Redis key glob, or of its
    ``translate_glob`` parse (so a caller that routed on the parse does
    not translate twice)."""
    g = pattern if isinstance(pattern, Glob) else translate_glob(pattern)
    return g.column()


def translate_glob(pattern: str) -> Glob:
    """Translate a Redis key glob into column equalities plus, when
    they are not exact, an fnmatch residual (``Glob``).

    Exact translation when every segment is a literal or a bare ``*``
    (the only shapes the reference README documents); otherwise extracts
    whatever segment predicates it can and ANDs an rlike residual on the
    stored ``key`` column so semantics stay glob-exact.

    Soundness note: a Redis ``*`` matches ``:`` too, so segment-count
    alignment is only knowable when the chain segment is a literal
    (mainnet names vs ``*_engine`` names). A wildcarded chain segment
    means a 5-segment pattern can match 6-segment engine keys with a
    ``*`` absorbing a colon — positional predicates would silently drop
    those rows — so that case degrades to a pure rlike on ``key``
    (matching the reference: a leading-* SCAN is a full scan anyway).

    GLOB DIALECT (the one home for this contract): the implemented
    semantics are Python ``fnmatch``'s, with Redis's ``[^..]`` negation
    spelling normalized to fnmatch's ``[!..]`` first — that normalized
    fnmatch regex IS the residual, and the segment splitter mirrors the
    same scanner, so the two can never contradict each other.  For the
    literal/bare-``*`` shapes the reference README documents (and every
    key alphabet the stores actually hold) this is exactly Redis.  The
    engines differ only in class corners, resolved in fnmatch's favor:
    real Redis (util.c ``stringmatchlen``) closes a class at the FIRST
    ``]`` — so a leading ``]`` leaves an empty class matching nothing —
    while fnmatch/POSIX treat a ``]`` directly after ``[`` / ``[!`` /
    ``[^`` as a literal member; Redis negates only with ``^`` (a ``!``
    is a literal member), fnmatch only with ``!``; Redis honors
    backslash escapes, which this translator REFUSES loudly (see
    _BACKSLASH_MSG) rather than mistranslate.
    """
    if "\\" in pattern:
        raise ValueError(_BACKSLASH_MSG)
    segs = _split_segments(pattern)
    residual = Glob(residual=_glob_to_regex(pattern))
    never = Glob(never=True)

    head = segs[0]
    if _wild(head):
        return residual
    sidechain = head.endswith("_engine")
    names = SIDECHAIN_SEGMENTS if sidechain else MAINNET_SEGMENTS
    if len(segs) > len(names):
        return residual

    terms: list[tuple[Eq, ...]] = []
    exact = True

    if len(segs) == len(names):
        # chain literal + equal counts: no spare colons for a '*' to
        # absorb, so alignment is forced positional
        # positional: each glob segment lines up with one key segment
        for name, seg in zip(names, segs):
            if seg == "*":
                continue
            if _wild(seg):
                exact = False
                continue
            if name in ("block_num", "trx_index"):
                # numeric key segments are always rendered canonically
                # (key_int), so any other literal here matches NOTHING
                # (found by the unified-surface fuzz: int() used to
                # raise; oversized ints crash py4j server-side)
                seg = key_int(seg)
                if seg is None:
                    return never
            terms.append(((name, seg),))
    else:
        # fewer segments than the key: only a '*' can absorb the missing
        # ':' separators (Redis MATCH is full-string).  Without one, a
        # short pattern like 'hive:vote' matches NOTHING — '?' and [..]
        # eat exactly one char, so they can absorb at most one colon each;
        # a pure literal can absorb none.
        if not any("*" in s for s in segs):
            if not any(ch in pattern for ch in "?["):
                return never          # literal with too few segments
            return residual           # ?/[..] might still eat a ':'
        # '*' present: anchor literal head/tail segments, classify literal
        # middles by shape.
        exact = all(s == "*" or not _wild(s) for s in segs)
        terms.append((("chain", head),))
        lo, hi = 1, len(segs) - 1
        # a literal segment right after the literal head is anchored at
        # the string start, and segment values contain no ':', so it IS
        # block_num — bound exactly, with no residual ('hive:N:*' is a
        # block-bound request)
        if not _wild(segs[1]):
            block = key_int(segs[1])
            if block is None:
                return never
            terms.append((("block_num", block),))
            lo = 2
        tail = segs[-1]
        tail_literal = not _wild(tail)
        if tail_literal:
            terms.append((("action" if sidechain else "op_type", tail),))
        # the PENULTIMATE literal is positionally certain — but ONLY when
        # the last segment is itself a literal: then the pattern tail
        # ':<penult>:<tail>' is end-anchored, and since segment values
        # contain no ':', a matching key's second-to-last segment IS the
        # penult — contract on the sidechain (any name: the design is
        # data-derived, new contracts must need no code change,
        # README.md:351), trx_index on mainnet (always canonical digits:
        # any other literal there matches nothing — r15 review: a 40-hex
        # penult fell through to the middle loop, bound trx_id == hex
        # with NO residual, and returned rows the glob cannot match).  A
        # wildcard tail un-anchors the penult (the '*' may absorb any
        # number of trailing segments), so it stays a plain middle.  (A
        # literal head run and a literal penult never share a segment:
        # with both literal, the '*' must sit between them.)
        if len(segs) >= 3 and tail_literal and not _wild(segs[-2]):
            penult = segs[-2]
            if sidechain:
                terms.append((("contract", penult),))
            else:
                trx_index = key_int(penult)
                if trx_index is None:
                    return never
                terms.append((("trx_index", trx_index),))
            hi = len(segs) - 2
        for seg in segs[lo:hi]:
            if _wild(seg):
                continue
            n = key_int(seg)
            if n is not None:
                # a numeric middle is positionally ambiguous — the glob
                # matches it against block_num OR trx_index — so bind the
                # disjunction (still prunes: both are min/max-tracked) and
                # let the residual restore exactness
                alts: list[Eq] = [("block_num", n), ("trx_index", n)]
                if sidechain:
                    # contract/action names are DATA-DERIVED (new
                    # contracts must need no code change) — a contract
                    # literally named '123' would collide with the
                    # numeric binding, so the disjunction widens to the
                    # name columns; the residual keeps it glob-exact
                    alts += [("contract", seg), ("action", seg)]
                terms.append(tuple(alts))
                exact = False
            elif _HEX40.match(seg):
                if sidechain:
                    # same data-derived-name hazard: a 40-hex contract/
                    # action name is legal, so the binding is a
                    # disjunction + residual, not a bare trx_id equality
                    terms.append((("trx_id", seg), ("contract", seg),
                                  ("action", seg)))
                    exact = False
                else:
                    # mainnet is provably positional: op_type is a fixed
                    # protocol vocabulary (never 40-hex) and the numeric
                    # segments render canonically in at most 19 digits,
                    # so a 40-hex middle (all-digit ones included) can
                    # only equal trx_id
                    terms.append((("trx_id", seg),))
            else:
                # neither numeric nor hex: not positionally resolvable,
                # the residual decides
                exact = False

    return Glob(tuple(terms), None if exact else residual.residual)
