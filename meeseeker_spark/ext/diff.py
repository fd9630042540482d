"""Corpus snapshot diff (training-data ops extension, driver north
star): dataset versioning's core audit — given two snapshots of a
corpus, classify every document as added / removed / changed /
unchanged by content identity, so a training run can state exactly what
moved between data versions (and a changed-doc list can drive
incremental re-processing instead of full rebuilds).

Content identity is ext.text.fingerprint (lowercased, whitespace-
collapsed md5) — the same normalization the exact-dedup path uses, so
"changed" means the text materially changed, not that whitespace
shifted.

Scale shape: each side reduces to (id, 32-hex fingerprint) before the
join — the full-outer join shuffles two skinny columns per row, never
document text; with both snapshots bucketed by id on disk (the
ext.shard / manifest layouts) the join is co-located and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import fingerprint


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document diff table: (id_col, old_fp, new_fp, status) for
    every id present in either snapshot; status in
    {'added','removed','changed','unchanged'}."""
    # classify by ROW PRESENCE, not fingerprint nullity (r15 review):
    # fingerprint(NULL text) is NULL, so a NULL-text doc present in both
    # snapshots read as 'added', and one deleted from the new snapshot
    # read as 'added' too — corrupting the status counts.  Presence flags +
    # null-safe fp equality classify every row correctly.
    o = old.select(F.col(id_col).alias("_id"),
                   fingerprint(F.col(text_col)).alias("old_fp"),
                   F.lit(True).alias("_in_old"))
    n = new.select(F.col(id_col).alias("_id"),
                   fingerprint(F.col(text_col)).alias("new_fp"),
                   F.lit(True).alias("_in_new"))
    return (
        o.join(n, "_id", "full_outer")
        .select(
            F.col("_id").alias(id_col), "old_fp", "new_fp",
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(F.col("old_fp").eqNullSafe(F.col("new_fp")),
                  F.lit("unchanged"))
            .otherwise(F.lit("changed")).alias("status"))
    )
