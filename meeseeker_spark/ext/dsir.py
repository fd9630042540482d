"""DSIR-style importance resampling (training-data pipeline extension,
same family as SURVEY §2 F — no reference counterpart).

Data Selection via Importance Resampling (Xie et al. 2023): select raw
documents whose hashed n-gram distribution looks like a TARGET corpus
(high-quality seed text), by importance weight

    log w(doc) = Σ_b c_b(doc) · (log p_b − log q_b)

where c_b are the doc's hashed unigram+bigram counts over B buckets,
p is the bucket distribution fit on the target corpus and q on the raw
corpus (both add-1 smoothed).  Sampling without replacement ∝ w is done
with the Gumbel top-k trick; here the Gumbel noise is derived from an
md5 of the doc id, so selection is deterministic across retries,
partitionings, and the DuckDB oracle.

Scale shape: the two distributions are gram-shuffle aggregates whose
output is exactly B rows each (B ≈ 10k, broadcastable by construction —
that is the point of hashing the feature space).  Per-doc scoring joins
the doc's (bucket, count) pairs to the broadcast log-ratio table and
reduces — shuffle ∝ doc-bucket pairs, never a corpus-wide wide row.
Selection is ``orderBy(score).limit(k)``, which Spark plans as
TakeOrderedAndProject: per-partition top-k then a k-row merge, no global
sort materialization.  Everything is JVM built-ins; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import md5_int32, tokens

DEFAULT_BUCKETS = 10_000


def _grams(tok: Column) -> Column:
    """Unigrams + bigrams as one string array (the DSIR feature set).

    Takes a BOUND token-array column, not raw text: the token expression
    appears five times in this tree (the array itself, two slices, two
    sizes), and higher-order functions are interpreted with no common-
    subexpression elimination — passing ``tokens(text)`` inline ran the
    regex tokenizer 5× per row (the same bound-column rule as
    ext.spans.word_grams / text._with_tokens)."""
    bigrams = F.zip_with(
        F.slice(tok, 1, F.greatest(F.size(tok) - 1, F.lit(0))),
        F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(tok, bigrams)


def hashed_gram_counts(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(_id, bucket, c): per-document hashed n-gram bucket counts.
    The md5 bucket hash is the repo-wide oracle-reproducible idiom.

    spread_scan (r16): the gram explode + per-gram md5 — the heavy
    narrow stage — ran on the unsplittable fixture scan's partitions,
    serial at any core count (the r16 sf1 core-scaling lane read a
    0.78 ratio for dsir_select; the r15 spread rejection for this
    entry was re-measured on a quiet box and reversed).  Interleaved
    A/B via dsir_select: sf1 18.1/17.8/17.1 → 5.4/4.1/4.2 s (×3.8);
    sf0.1 2.56/2.96/3.03 → 2.26/2.23/2.63 — wins every pair.  Exact
    no-op branch once the scan fills the cluster (guide §2.5)."""
    from ..tables import spread_scan
    g = spread_scan(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_w"))
    g = g.select("_id", F.explode(_grams(F.col("_w"))).alias("_g"))
    return (
        g.select("_id", F.pmod(md5_int32(F.col("_g")),
                               F.lit(n_buckets)).alias("bucket"))
        .groupBy("_id", "bucket").agg(F.count("*").alias("c"))
    )


def dsir_log_weights(raw: DataFrame, target: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(doc_id, n_grams, logw): per-raw-document DSIR importance weight.

    Buckets unseen in one corpus still contribute through the smoothing
    floor ln(1/(n+B)) — their raw count coalesces to 0, so the smoothed
    term ln(0+1) − ln(n+B) IS the floor; nothing is silently dropped
    (dropping would bias weights toward docs full of unseen grams).
    The raw corpus is tokenized ONCE — q's bucket counts are derived
    from the same per-doc counts the scoring stage consumes (the gram
    explode is the expensive pass at corpus scale).

    Both corpus totals travel as ONE 1-row stats table cross-joined
    onto the ≤ B-row ratio build (VERDICT r6: the previous
    per-corpus-scalar layout broadcast four separate 1-row aggregates,
    doubling the exchange count for zero semantic difference)."""
    B = F.lit(float(n_buckets))
    pc = (hashed_gram_counts(target, id_col, text_col, n_buckets)
          .groupBy("bucket").agg(F.sum("c").alias("_pcb")))
    c = hashed_gram_counts(raw, id_col, text_col, n_buckets)
    qc = c.groupBy("bucket").agg(F.sum("c").alias("_qcb"))
    stats = (pc.agg(F.sum("_pcb").cast("double").alias("_pn"))
             .crossJoin(qc.agg(F.sum("_qcb").cast("double").alias("_qn"))))
    ratio = (
        pc.join(qc, "bucket", "full")
        .crossJoin(F.broadcast(stats))
        .select(
            "bucket",
            ((F.log(F.coalesce(F.col("_pcb"), F.lit(0)) + F.lit(1.0))
              - F.log(F.col("_pn") + B))
             - (F.log(F.coalesce(F.col("_qcb"), F.lit(0)) + F.lit(1.0))
                - F.log(F.col("_qn") + B)))
            .alias("_lam"))
    )
    scored = (
        c.join(F.broadcast(ratio), "bucket")
        .groupBy("_id")
        .agg(F.sum("c").alias("n_grams"),
             F.round(F.sum(F.col("c") * F.col("_lam")), 4).alias("logw"))
    )
    return (
        raw.select(F.col(id_col).alias("_id"))
        .join(scored, "_id", "left")
        .select(F.col("_id").alias(id_col), "n_grams", "logw")
    )


def dsir_select(raw: DataFrame, target: DataFrame, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                n_buckets: int = DEFAULT_BUCKETS,
                temperature: float = 1.0) -> DataFrame:
    """Top-k Gumbel selection: keep the k raw documents maximizing
    ``logw/temperature + Gumbel(md5(id))`` — sampling without
    replacement ∝ w^(1/T), made deterministic by deriving the Gumbel
    from the doc id (same draw on every retry/engine).  ``T→0`` is
    argmax selection; T=1 the paper's sampling.

    Returns (doc_id, logw, gumbel, score) for the selected docs.  The
    limit is planned as TakeOrderedAndProject — per-partition top-k,
    k-row merge, no global sort.  Docs too short to produce any gram
    (NULL logw) are never selected."""
    if temperature <= 0:
        # r15 review: /0 is NULL in non-ANSI Spark, so every score went
        # NULL and "selection" silently became first-k-by-id; negative T
        # inverts it.  Same guard as temperature_plan.  (T→0 argmax =
        # sort by logw directly, a one-line caller-side expression.)
        raise ValueError("temperature must be positive")
    w = dsir_log_weights(raw, target, id_col, text_col, n_buckets)
    u = (md5_int32(F.concat(F.lit("dsir:"), F.col(id_col).cast("string")))
         + F.lit(0.5)) / F.lit(float(2 ** 32))
    gumbel = F.round(-F.log(-F.log(u)), 4)
    scored = w.where(F.col("logw").isNotNull()).select(
        id_col, "logw", gumbel.alias("gumbel"),
        F.round(F.col("logw") / F.lit(float(temperature)) + gumbel, 4)
        .alias("score"))
    return (scored.orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))
