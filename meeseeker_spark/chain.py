"""Chain-id detection → key prefix (SURVEY §2 E7).

The reference probes the node's ``get_config`` and maps the reported chain
id to the key prefix every composite key starts with
(/root/reference/lib/meeseeker.rb:53-76): the modern Hive id and the legacy
(all-zero) Hive id both map to ``hive``, the Steem id maps to ``steem``,
and an unknown chain falls back to guessing from the first config key that
ends with ``_CHAIN_ID`` (its leading segment, lowercased), with a warning.

In Spark this is session-build config resolution, not a plan operator: the
resolved prefix becomes the ``chain`` literal column the flatten stamps on
every op (flatten.py).  Pure function over a config mapping → hermetically
unit-testable.  The node probe itself is connector territory, and every
source here is a file stream, so there is no connector to probe.
"""

from __future__ import annotations

import warnings
from typing import Mapping

# lib/meeseeker.rb:13-15 — note STEEM_CHAIN_ID == HIVE_LEGACY_CHAIN_ID
# (both all-zeros): which prefix wins depends on WHICH config key the node
# reports, not the value alone, so evaluation order below matters.
STEEM_CHAIN_ID = "0" * 64
HIVE_LEGACY_CHAIN_ID = "0" * 64
HIVE_CHAIN_ID = "beeab0de" + "0" * 56

STEEM_CHAIN_KEY_PREFIX = "steem"
HIVE_CHAIN_KEY_PREFIX = "hive"
STEEM_ENGINE_CHAIN_KEY_PREFIX = "steem_engine"
HIVE_ENGINE_CHAIN_KEY_PREFIX = "hive_engine"


def chain_key_prefix(config: Mapping[str, object]) -> str:
    """Resolve the key prefix from a node's ``get_config`` response.

    Mirrors meeseeker.rb:63-72 exactly, including its evaluation order:

    1. ``HIVE_CHAIN_ID`` present and equal to the modern Hive id → ``hive``
    2. ``HIVE_CHAIN_ID`` present and equal to the legacy all-zero id →
       ``hive`` (a pre-fork Hive node still reports the Steem-era id under
       the HIVE_ key — the key name, not the value, is the tell)
    3. ``STEEM_CHAIN_ID`` present and equal to the Steem id → ``steem``
    4. otherwise: guess from the first ``*_CHAIN_ID`` config key — its
       first ``_``-segment, lowercased — and warn (the reference prints
       "Guessing chain_key_prefix = ...").

    Raises ``ValueError`` when no ``*_CHAIN_ID`` key exists at all (the
    reference would crash on ``nil.split`` there; we fail with a message).

    The reference treats falsy values as absent (``!!config.HIVE_CHAIN_ID``)
    — so do we.
    """
    hive_id = config.get("HIVE_CHAIN_ID")
    if hive_id and hive_id == HIVE_CHAIN_ID:
        return HIVE_CHAIN_KEY_PREFIX
    if hive_id and hive_id == HIVE_LEGACY_CHAIN_ID:
        return HIVE_CHAIN_KEY_PREFIX
    steem_id = config.get("STEEM_CHAIN_ID")
    if steem_id and steem_id == STEEM_CHAIN_ID:
        return STEEM_CHAIN_KEY_PREFIX
    for k in config:
        if k.endswith("_CHAIN_ID"):
            guess = k.split("_")[0].lower()
            warnings.warn(
                f"Guessing chain_key_prefix = '{guess}' for unknown chain",
                stacklevel=2)
            return guess
    raise ValueError("node config carries no *_CHAIN_ID key")
