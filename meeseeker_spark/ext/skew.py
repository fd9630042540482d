"""Skew-resistant aggregation (100 TB design north star).

Partial aggregation already protects numeric aggs from hot keys, but
set/list-collecting aggs (the D1–D4 reconciliation shapes, SURVEY §2)
funnel every value of a hot key through one reducer — at 100 TB a single
`hive:op:vote`-sized key can be billions of rows. Salting splits each
group into ``n_salt`` sub-groups for the wide stage, then merges the
(already tiny, deduped) partial sets in a second, skew-free aggregation.

The salt is a deterministic hash of the VALUE — not ``rand()`` — so
retried/resumed tasks reproduce identical partitions (speculative
execution and stage retries re-run tasks; a random salt would let two
attempts of one task disagree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_collect_set(df: DataFrame, key_cols: list[str], value_col: str,
                       n_salt: int = 8,
                       out_col: str | None = None) -> DataFrame:
    """groupBy(key).collect_set(value), two-phase over a value-hash salt.

    Phase 1 shuffles on (key, salt) — a hot key fans out over n_salt
    reducers, each emitting a deduped partial set. Phase 2 shuffles only
    the n_salt partial sets per key and merges them. Output is exactly
    groupBy(key).agg(collect_set) — the salt never escapes.
    """
    out = out_col or f"{value_col}_set"
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salt)).alias("_salt")
    partial = (
        df.select(*key_cols, value_col, salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.collect_set(value_col).alias("_part"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_part"))))
            .alias(out))
    )
