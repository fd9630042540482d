"""SemDeDup-style semantic deduplication (SURVEY §2 F2/F3 extension).

Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication" (arXiv:2303.09540): cluster the
embedding space with a coarse k-means codebook, then look for
high-cosine pairs ONLY within each cluster — the quadratic pair space
shrinks from O(n²) to Σ|cluster|², and at web scale the cluster count
grows with the corpus so cluster width (and per-bucket cost) stays
bounded.  The same pruning shape as MinHash banding (ext.dedup), with
k-means cells instead of hash buckets.

Built from the IVF pieces in ext.similarity: the codebook is the one
legitimately driver-side structure (n_clusters × dim floats, identical
to IVF serving), assignment is a vectorized Arrow-batched numpy matmul
over the closure-captured codebook on RAW vectors (_top_cells_udf —
cosine is scale-invariant, so normalizing first would only add work;
see its docstring for why this is the measured exception to the
JVM-first rule), and normalized vectors materialize through a shuffle
barrier that is ALSO the cluster-join exchange: one repartition(_cell)
both stops the norm re-running per pair and pre-shuffles both
self-join sides, so Catalyst reuses a single exchange.

``max_cluster`` mirrors near-dup's ``max_bucket``: a degenerate cell
(one centroid capturing a constant-embedding flood) is dropped from
pairing rather than going quadratic — conservative, documents are kept.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .similarity import (_seed_centroids, _top_cells_udf, as_double, dot,
                         ivf_train_centroids, l2_norm,
                         pinned_shuffle_partitions, unit)


def auto_clusters(n: int, n_probe: int = 2, target_cell: int = 512,
                  lo: int = 16, hi: int = 4096) -> int:
    """Cluster-count rule: k = ⌈n_probe·n / target_cell⌉ clamped to
    [lo, hi], keeping expected (probed) cell width ~constant as the
    corpus grows — with FIXED k the within-cell pair space is
    n²·n_probe²/k, quadratic in n (measured: 116 s at sf1 with k=16
    where the sf0.1 point was 3 s; 80 s with k clamped at the old
    expression-bound 64; ~linear once k tracks n).

    Two cost regimes share k: pair verification O(n·target·n_probe) and
    assignment O(n·k·dim) — with k ∝ n the assignment term is the one
    that eventually dominates (SemDeDup at web scale does assignment on
    an ANN index for exactly this reason; the paper uses FAISS).  The
    ``hi`` clamp bounds that term: past it, prefer
    ``ext.dedup.embedding_dup_pairs_lsh`` (hash-derived buckets track n
    for free) or raise target_cell."""
    import math

    return min(hi, max(lo, math.ceil(n_probe * max(n, 1) / target_cell)))


def _clustered_normalized(emb: DataFrame, n_clusters: int,
                          train_iters: int, id_col: str, vec_col: str,
                          n_probe: int) -> DataFrame:
    """(id, _cell, _nv): top-``n_probe`` cell assignments on raw vectors
    + unit vectors, materialized through a repartition on the cell — the
    barrier that feeds the self-join without a second exchange.

    Multi-probe (n_probe > 1) replicates each vector into its n_probe
    nearest cells — the IVF probing idea applied to dedup: a pair
    sitting astride a Voronoi boundary still meets in the runner-up
    cell.  Cost is a ×n_probe row stream and ≤ ×n_probe² candidate
    pairs, against single-probe's boundary-pair misses.

    Assignment (descending (cosine-rounded-6dp, cell-id) order, top
    n_probe) runs as ONE vectorized Arrow-batched pandas UDF: all n×k
    cosines as a numpy matmul per record batch, returning only the
    top-``n_probe`` cell ids (array<int>) — dim doubles in, n_probe
    ints out per row, no joins, no extra shuffle.

    Why a Python crossing here, against the repo's JVM-first rule:
    measured.  The expression/HOF cosine (F.aggregate ∘ zip_with) is
    interpreted per element at ~26-42 µs per cosine; at sf1
    (n=20k, k=118) that made assignment 62.6 s of the 68.9 s total
    (93%), and two JVM-side plan variants — rank-over-broadcast-join
    (r4, 66.8 s) and per-row HOF over a broadcast codebook column
    (74.7 s) — measured the same, proving the cost is the interpreted
    arithmetic, not the plan shape; the k≤64 expression path measured
    the same µs/cosine at sf0.5 (k=59: 27.9 s vs the matmul's ~3 s).
    One matmul per Arrow batch does the identical O(n·k·dim) flops
    vectorized, which is also how SemDeDup itself runs assignment
    (FAISS).  This is the documented Arrow-batched exception
    (SCALE.md), not a row-at-a-time UDF; equivalence with the
    expression-argmax formulation (incl. tie-breaks) is pinned by
    tests/test_ext.py::test_semantic_assignment_paths_agree."""
    if train_iters > 0:
        # r6: training assigns via the same vectorized matmul, so the
        # old expression-path codegen bound (k <= 64) no longer applies
        cents = ivf_train_centroids(emb, n_clusters, train_iters,
                                    id_col, vec_col)
    else:
        cents = _seed_centroids(emb, n_clusters, id_col, vec_col)
    e = emb.select(F.col(id_col).alias("_id"),
                   as_double(F.col(vec_col)).alias("_v"))
    # coalesce makes _cell provably non-null, so the join's inferred
    # isnotnull(_cell) constant-folds away instead of pushing the
    # whole assignment into a Filter BELOW the barrier (a second full
    # assignment evaluation per row, visible in the physical plan); a
    # null/empty embedding lands in cell 0 where its null unit vector
    # yields null sims the threshold drops
    # normalize BEFORE the n_probe explode (r15 review): _n/_nv derived
    # from the exploded stream re-ran the norm aggregate and the
    # elementwise divide once per probed replica; computed here they
    # run once per vector and ride the Generate as passthrough columns
    e = e.select("_id", "_v", l2_norm(F.col("_v")).alias("_n"))
    # unit(), not transform(x -> x/_n): CollapseProject would inline the
    # norm aggregate per ELEMENT (see similarity.unit; 10× measured)
    e = e.select("_id", "_v",
                 unit(F.col("_v"), F.col("_n")).alias("_nv"))
    cells = F.coalesce(_top_cells_udf(cents, n_probe)(F.col("_v")),
                       F.array(F.lit(0)))
    e = e.select("_id", "_nv", F.explode(cells).alias("_cell"))
    e = e.select("_id", "_cell", "_nv")
    n_parts = pinned_shuffle_partitions(emb.sparkSession)
    return e.repartition(n_parts, F.col("_cell"))


def semantic_dup_pairs(emb: DataFrame, threshold: float = 0.85,
                       n_clusters: int = 16, train_iters: int = 0,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_cluster: int | None = None,
                       n_probe: int = 2) -> DataFrame:
    """Within-cluster high-cosine pairs: (vec_a, vec_b, cell, sim) with
    vec_a < vec_b and sim (4-dp rounded, same convention as the exact
    all-pairs oracle) ≥ threshold; ``cell`` is the smallest shared cell.
    A subset of the exact pair set by construction — the recall bet is
    that semantic duplicates share one of their ``n_probe`` nearest
    centroids, which tests/test_ext.py pins on the fixture.

    ``max_cluster`` caps cell width measured over the probed (replicated)
    stream — the conservative reading of the degenerate-cell guard."""
    e = _clustered_normalized(emb, n_clusters, train_iters, id_col,
                              vec_col, n_probe)
    if max_cluster is not None:
        # count-window cap, same idiom as near-dup's max_bucket: the
        # window partitions on _cell, which is exactly the barrier's
        # repartition key, so the width count rides the exchange already
        # in the plan — no extra aggregate+join round trip
        from pyspark.sql import Window

        wspec = Window.partitionBy("_cell")
        e = (e.withColumn("_w", F.count("*").over(wspec))
             .where(F.col("_w") <= max_cluster).drop("_w"))
    # shuffle-hint the self-join: a broadcast side would RECOMPUTE the
    # normalize+assign subtree per side (the measured 1.9-2.2× lesson on
    # the LSH/inverted-index self-joins); SHJ on _cell reuses the
    # barrier's exchange for both sides
    e = e.hint("shuffle_hash")
    a = e.select(F.col("_cell"), F.col("_id").alias("vec_a"),
                 F.col("_nv").alias("_va"))
    b = e.select(F.col("_cell"), F.col("_id").alias("vec_b"),
                 F.col("_nv").alias("_vb"))
    pairs = (
        a.join(b, ["_cell"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.col("_cell").alias("cell"),
                F.round(dot(F.col("_va"), F.col("_vb")), 4).alias("sim"))
        .where(F.col("sim") >= threshold)
    )
    if n_probe > 1:
        # a pair meeting in several probed cells emits several rows —
        # collapse to one per pair (sims are identical by construction;
        # the dedup shuffle is proportional to surviving pairs, the same
        # budget as LSH banding's DISTINCT over candidates)
        pairs = (pairs.groupBy("vec_a", "vec_b")
                 .agg(F.min("cell").alias("cell"),
                      F.min("sim").alias("sim")))
    return pairs
