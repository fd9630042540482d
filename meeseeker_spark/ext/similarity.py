"""Embedding similarity search (SURVEY §2 F3, driver north star).

- brute-force cosine top-k: broadcast the (small) query set against the
  candidate corpus; dot products via zip_with/aggregate stay JVM-side
  (higher-order functions are interpreted, not codegen'd, but avoid the
  Python boundary and — decisive here — reproduce the DuckDB oracle's
  summation order exactly; an Arrow/numpy path measured ~1.5× faster but
  its pairwise summation can flip 4-dp rounding vs the oracle); ranked
  with a per-query window.
- LSH variant: random-hyperplane sign buckets prune the candidate space;
  this is the 100 TB path (bucket join instead of full cross product),
  trading recall for a ~2^bits reduction in pairs scored.

Vectors are array<float> in the fixtures; everything upcasts to double
before arithmetic so results are stable and oracle-reproducible.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .text import sql_name


def as_double(vec: Column) -> Column:
    name = sql_name(vec)
    if name is not None:   # one-hop build (r15); see text.sql_name
        return F.expr(f"transform({name}, x -> cast(x as double))")
    return F.transform(vec, lambda x: x.cast("double"))


def pinned_shuffle_partitions(spark) -> int:
    """The explicit partition count for the repartition barriers below.
    ``spark.sql.shuffle.partitions`` is not always numeric (managed
    platforms set "auto" under AQE-managed shuffle — r15 review: int()
    crashed every entry that pins a barrier); fall back to the
    cluster's default parallelism, which serves the same purpose — a
    nonzero explicit N that stops AQE coalescing the barrier to ONE
    partition."""
    v = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(v)
    except ValueError:
        return spark.sparkContext.defaultParallelism


def dot(a: Column, b: Column) -> Column:
    na, nb = sql_name(a), sql_name(b)
    if na is not None and nb is not None:   # one-hop build (r15)
        return F.expr(
            f"aggregate(zip_with({na}, {nb}, (x, y) -> x * y), "
            f"cast(0 as double), (acc, x) -> acc + x)")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(vec: Column) -> Column:
    return F.sqrt(dot(vec, vec))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def unit(vec: Column, norm: Column) -> Column:
    """vec / norm elementwise, with the per-row scalar evaluated ONCE.

    The obvious ``transform(vec, x -> x / norm)`` is a trap:
    CollapseProject substitutes the norm column's defining expression
    into the lambda body, so the l2_norm AGGREGATE re-evaluates per
    ELEMENT — 64× the work per row, measured 5.2 s vs 0.5 s for the
    sf1 embeddings normalize (r6).  ``array_repeat`` materializes the
    scalar once per row and ``zip_with`` divides elementwise; identical
    arithmetic, same doubles."""
    nv, nn = sql_name(vec), sql_name(norm)
    if nv is not None and nn is not None:   # one-hop build (r15)
        return F.expr(
            f"zip_with({nv}, array_repeat({nn}, size({nv})), "
            f"(x, n) -> x / n)")
    return F.zip_with(vec, F.array_repeat(norm, F.size(vec)),
                      lambda x, n: x / n)


def normalized(emb: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding",
               keep_cols: tuple[str, ...] = (),
               barrier: str = "exchange") -> DataFrame:
    """(id_col, *keep_cols, _nv): unit-normalized double vectors, norm
    computed once per row (``unit`` — see its docstring for the
    CollapseProject per-element trap this sidesteps, measured 10× on
    this very function at sf1 in r6) — MATERIALIZED through an
    optimization barrier.

    The barrier is the point: CollapseProject + codegen fuse bare
    projections into their consumers, so feeding a lazily-computed
    normalized array into an O(n²) join re-runs the norm aggregate per
    element per PAIR. Two barrier shapes (r15):

    - ``"exchange"`` — repartition by id.  One linear shuffle of n
      vectors buying a 12× drop on the quadratic stage (measured sf0.1:
      25 s → 2 s; 41× vs the original per-pair-cosine form).  Use when
      SEVERAL consumers reference the normalized table: identical
      exchanges are computed once and AQE/ReuseExchange serves every
      consumer (verified in embedding_dup_pairs_lsh's executed plan —
      3 ReusedExchange nodes).
    - ``"narrow"`` — a single-element explode.  Generate is opaque to
      CollapseProject, so the norm still evaluates once per row, but NO
      shuffle of the corpus happens at all.  Strictly better for
      single-consumer pipelines (broadcast-side or streamed-side feeds):
      cosine_topk dropped 3 exchanges → 1 and 0.48 s → 0.42 s at sf0.1;
      at 100 TB it removes a full-corpus shuffle.  Not a reuse point —
      a plan referencing it twice recomputes the scan, so keep
      "exchange" for multi-consumer shapes like the LSH pair pipeline.
    """
    keep = [F.col(c) for c in keep_cols]
    e = emb.select(F.col(id_col), *keep,
                   as_double(F.col(vec_col)).alias("_v"))
    e = e.select(id_col, *keep, "_v", l2_norm(F.col("_v")).alias("_n"))
    e = e.select(id_col, *keep,
                 unit(F.col("_v"), F.col("_n")).alias("_nv"))
    if barrier == "narrow":
        return e.select(id_col, *keep,
                        F.explode(F.array(F.col("_nv"))).alias("_nv"))
    # explicit partition count: a bare repartition(col) lets AQE coalesce
    # the (tiny-by-bytes) exchange to ONE partition, serializing the O(n²)
    # join that follows — measured 9× worse. Pinning N keeps the barrier
    # AND the parallelism.
    n_parts = pinned_shuffle_partitions(emb.sparkSession)
    return e.repartition(n_parts, F.col(id_col))


def cosine_topk(emb: DataFrame, query_ids: list[int] | None = None,
                k: int = 5, id_col: str = "vec_id",
                vec_col: str = "embedding",
                max_query_filter: int | None = None) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    The query side is broadcast (it's small by construction); the candidate
    scan is embarrassingly parallel; the only shuffle is the per-query
    top-k window, whose input is already reduced to scored rows.
    """
    from pyspark.sql import Window

    # normalize once per vector (linear) so the scored stage is a bare
    # dot product — cosine() would recompute both norms per pair
    # narrow barrier (r15): the corpus side streams into the broadcast
    # cross join exactly once and the query side is a pushed-filter
    # re-scan, so no consumer needs an exchange reuse point — the
    # explode barrier keeps the once-per-row norm WITHOUT shuffling the
    # corpus (3 exchanges -> 1, 0.48 s -> 0.42 s at sf0.1).
    normed = normalized(emb, id_col, vec_col, barrier="narrow")
    cand = normed.select(F.col(id_col).alias("c_id"),
                         F.col("_nv").alias("cv"))
    q = normed
    if query_ids is not None:
        q = q.where(F.col(id_col).isin(query_ids))
    elif max_query_filter is not None:
        q = q.where(F.col(id_col) < max_query_filter)
    q = q.select(F.col(id_col).alias("q_id"), F.col("_nv").alias("qv"))
    scored = (
        F.broadcast(q).crossJoin(cand)
        .where(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id", "c_id",
            F.round(dot(F.col("qv"), F.col("cv")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def _cell_sims(v: Column, cents: list[list[float]]) -> Column:
    """array<struct<s,i>> of cosine(v, centroid_i) — array_max /
    array_sort give argmax / probe order for free."""
    return F.array(*[
        F.struct(
            F.round(cosine(v, F.array(*[F.lit(x) for x in c])), 6)
            .alias("s"),
            F.lit(i).alias("i"))
        for i, c in enumerate(cents)
    ])


def _top_cells_udf(cents: list[list[float]], n_probe: int):
    """Vectorized top-``n_probe`` cell assignment: one numpy matmul per
    Arrow batch over the closure-captured codebook.  The ``_cell_sims``
    expression path's semantics — cosines rounded to 6 dp HALF_UP
    (matching ``F.round``, not numpy's half-to-even), cells ranked by
    descending (cosine, cell-id) — via a stable ascending argsort read
    back-to-front (ties, ascending in cell-id under the stable sort,
    come out descending after the flip).  One caveat keeps this "up to
    1 ulp" rather than bit-exact: the BLAS matmul may sum the dot
    product in a different order than the HOF's left-to-right
    aggregate, so a cosine within 1 ulp of a 6-dp boundary can round
    across it — measure-zero on continuous embeddings; row-by-row
    equality with the expression path is pinned on the fixture by
    test_semantic_assignment_paths_agree.  A
    null / wrong-length / zero-norm vector returns NULL (callers
    coalesce or let the null cell drop out downstream).  Per row only
    ``dim`` doubles cross in and ``n_probe`` ints cross out.

    This is the measured exception to the JVM-first rule (see
    SCALING.md's semantic_dup_pairs r6 note): the interpreted
    higher-order-function cosine costs ~26-42 µs each, so n×k
    assignment dominates every consumer at scale; the matmul does the
    identical flops vectorized.  Used by semdedup cell assignment and
    the IVF quantizer (serving + training)."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype=np.float64)
    dim = C.shape[1] if C.ndim == 2 else 0
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = np.nan                      # zero centroid → nan sims

    @pandas_udf("array<int>")
    def _top(vs: pd.Series) -> pd.Series:
        vecs = np.zeros((len(vs), dim))
        ok = np.zeros(len(vs), dtype=bool)
        for j, v in enumerate(vs):
            if v is not None and len(v) == dim:
                a = np.asarray(v, dtype=np.float64)
                if np.isfinite(a).all() and a.any():
                    vecs[j] = a
                    ok[j] = True
        vn = np.linalg.norm(vecs, axis=1)
        vn[vn == 0] = np.nan
        raw = (vecs @ C.T) / (vn[:, None] * cn[None, :])
        # F.round is decimal HALF_UP (away from zero); np.round is
        # half-to-even — match Spark's mode so a cosine landing exactly
        # on a 6-dp boundary ranks identically on both paths
        sims = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
        np.nan_to_num(sims, copy=False, nan=-np.inf)
        order = np.argsort(sims, axis=1, kind="stable")[:, ::-1][:, :n_probe]
        return pd.Series([
            order[j].astype("int32").tolist() if ok[j] else None
            for j in range(len(vs))])

    return _top


def _seed_centroids(emb: DataFrame, n_centroids: int, id_col: str,
                    vec_col: str) -> list[list[float]]:
    """Deterministic id-ordered seed sample (no RNG: retries and the
    recall tests see the same codebook).  NULL vectors — and vectors
    carrying a NULL element — are skipped (r15 review: one poisoned row
    among the n_centroids smallest ids crashed every IVF/semdedup entry
    driver-side with a TypeError; every other path in this module
    routes them to NULL cells instead)."""
    clean = emb.where(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull()))
    return [
        [float(x) for x in row[0]]
        for row in clean.select(vec_col).orderBy(id_col)
        .limit(n_centroids).collect()
    ]


def ivf_train_centroids(emb: DataFrame, n_centroids: int = 16,
                        n_iters: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> list[list[float]]:
    """Spherical k-means (Lloyd) training for the IVF coarse quantizer,
    fully distributed: each iteration is one assignment pass (argmax over
    the broadcast codebook, JVM-side) + one dimension-exploded mean
    aggregate — partial aggregation ships (cell, dim, partial-sum) rows,
    so the shuffle per iteration is ~n_centroids × dim rows no matter the
    corpus size, and the driver only ever holds the codebook itself
    (n_centroids × dim floats, same budget as serving). Means are taken
    over UNIT vectors (spherical variant — cosine assignment cares about
    direction only); empty cells keep their previous centroid.
    """
    cents = _seed_centroids(emb, n_centroids, id_col, vec_col)
    base = emb.select(as_double(F.col(vec_col)).alias("_v"))
    for _ in range(n_iters):
        # unit() evaluates the norm once per row (the per-element
        # CollapseProject trap, see unit's docstring); assignment via
        # the vectorized matmul, so k is unbounded by codegen method
        # limits (r6 — was the expression argmax)
        normed = base.select(
            _top_cells_udf(cents, 1)(F.col("_v")).getItem(0).alias("_cell"),
            unit(F.col("_v"), l2_norm(F.col("_v"))).alias("_u"),
        )
        rows = (
            normed.select("_cell", F.posexplode("_u").alias("_i", "_x"))
            .groupBy("_cell", "_i").agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new: dict[int, dict[int, float]] = {}
        for r in rows:
            new.setdefault(r["_cell"], {})[r["_i"]] = r["_m"]
        cents = [
            [new[i][d] for d in range(len(cents[i]))] if i in new
            else cents[i]
            for i in range(n_centroids)
        ]
    return cents


def ivf_topk(emb: DataFrame, query_ids: list[int] | None = None,
             k: int = 5, n_centroids: int = 16, n_probe: int = 4,
             train_iters: int = 0,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Coarse quantizer: every vector is assigned to its nearest centroid
    cell; queries probe only their ``n_probe`` nearest cells, so the
    scored pair space is ~n_probe/n_centroids of brute force. The
    codebook is driver/broadcast-side BY DESIGN — n_centroids × dim
    floats (here 16×64), the one structure in an IVF index that is
    always tiny regardless of corpus size; cell assignment is the
    vectorized Arrow matmul (_top_cells_udf — the measured exception to
    JVM-first), probed pair scoring stays JVM-side and
    oracle-reproducible.

    ``train_iters=0`` uses the deterministic id-ordered seed sample;
    ``train_iters>0`` refines it with that many distributed spherical
    k-means passes (``ivf_train_centroids``) — better-balanced cells,
    same serving plan. Same output schema as cosine_topk.
    """
    from pyspark.sql import Window

    if train_iters > 0:
        cents = ivf_train_centroids(emb, n_centroids, train_iters,
                                    id_col, vec_col)
    else:
        cents = _seed_centroids(emb, n_centroids, id_col, vec_col)

    # assignment runs on RAW vectors (cosine is scale-invariant) through
    # the vectorized Arrow matmul (_top_cells_udf) — the n×k interpreted
    # HOF cosine this replaces was ~the whole entry's wall time at sf1
    # (measured on the semdedup twin; same arithmetic, same fix).  ONE
    # shared UDF serves both sides: the corpus cell is element 0 of the
    # same top-n_probe array the query side explodes (argmax by
    # construction); with query_ids given the query side's crossing is
    # a handful of rows, so the corpus pays the matmul once
    base = emb.select(F.col(id_col).alias("_id"),
                      as_double(F.col(vec_col)).alias("_v"))
    top = _top_cells_udf(cents, n_probe)
    assigned = base.select(
        "_id", "_v", top(F.col("_v")).getItem(0).alias("_cell"))
    q = base
    if query_ids is not None:
        q = q.where(F.col("_id").isin(query_ids))
    q = q.select(
        F.col("_id").alias("q_id"), F.col("_v").alias("qv"),
        F.explode(top(F.col("_v"))).alias("_cell"),
    )
    c = assigned.select(F.col("_id").alias("c_id"), F.col("_v").alias("cv"),
                        "_cell")
    # score BEFORE the n_probe dedup (r15 review, same rule as
    # lsh_cosine_topk): sim is a pure function of the pair, so deduping
    # after it exchanges skinny (q_id, c_id, sim) rows instead of
    # shipping both full double vectors per duplicated candidate
    scored = (
        F.broadcast(q).join(c, "_cell")
        .where(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id",
                F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("sim"))
        .dropDuplicates(["q_id", "c_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization: per-vector min/max affine map to [-127,
    127]. 4× smaller at rest and on the wire — at 100 TB the embedding
    column's storage/shuffle footprint, not FLOPs, is the binding
    constraint. Returns (id, codes: array<tinyint>, scale, offset); all
    JVM-side arithmetic. Dequantize: x ≈ code * scale + offset.
    """
    # two-step projection: _v bound once (multi-reference stops
    # CollapseProject from inlining the cast-transform per use), then
    # scale/offset ride into the code lambda via array_repeat(struct) so
    # the array_min/max aggregates evaluate once per ROW — the collapsed
    # form re-ran them per ELEMENT (dim× the work; measured 22.1 s →
    # 0.9 s for the sf1 embeddings, r6)
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    v = F.col("_v")
    lo, hi = F.array_min(v), F.array_max(v)
    scale = F.when(hi > lo, (hi - lo) / F.lit(254.0)).otherwise(F.lit(1.0))
    offset = (hi + lo) / F.lit(2.0)
    so = F.array_repeat(F.struct(scale.alias("s"), offset.alias("o")),
                        F.size(v))
    return e.select(
        F.col(id_col),
        F.zip_with(v, so, lambda x, p: F.round((x - p["o"]) / p["s"])
                   .cast("tinyint")).alias("codes"),
        scale.alias("scale"),
        offset.alias("offset"),
    )


def dequantize(codes: Column, scale: Column, offset: Column) -> Column:
    # array_repeat(struct) evaluates scale/offset once per row; a bare
    # transform lambda referencing them would inline their DEFINING
    # expressions (the quantize min/max aggregates, when chained lazily)
    # per element — same trap as unit(), same fix
    return F.zip_with(
        codes,
        F.array_repeat(F.struct(scale.alias("s"), offset.alias("o")),
                       F.size(codes)),
        lambda c, p: c.cast("double") * p["s"] + p["o"])


def quantized_topk(emb: DataFrame, query_ids: list[int] | None = None,
                   k: int = 5, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Brute-force top-k over int8-quantized vectors (the storage-bound
    scale path): quantize once, score on dequantized codes. Approximate —
    max error per element is scale/2 — so rows-only checked; the recall
    test pins it against the float path."""
    q8 = quantize_embeddings(emb, id_col, vec_col)
    deq = q8.select(
        F.col(id_col),
        dequantize(F.col("codes"), F.col("scale"), F.col("offset"))
        .alias(vec_col))
    return cosine_topk(deq, query_ids=query_ids, k=k, id_col=id_col,
                       vec_col=vec_col)


def auto_planes(n: int, target_bucket: int = 32,
                lo: int = 6, hi: int = 16) -> int:
    """Bucket-count rule for sign-LSH: planes = ⌈log2(n / target_bucket)⌉
    clamped to [lo, hi], keeping the expected bucket width ~constant as
    the corpus grows.  With FIXED planes the candidate space is n²/2^b —
    still quadratic in n; tracking log2(n) makes it O(n·target·probes).
    The lower clamp pins the recall-tested fixture configuration; the
    upper bounds key-space blowup (2^16 buckets/table ≈ row-group scale).
    """
    import math

    return min(hi, max(lo, math.ceil(math.log2(max(n, target_bucket)
                                               / target_bucket))))


def hashed_lsh_buckets(vec: Column | str, n_planes: int, n_tables: int,
                       seed: int = 17) -> Column:
    """One sign-of-projection bucket id per table (OR-construction LSH:
    a pair is a candidate if it collides in ANY table — recall
    1-(1-p^b)^L instead of p^b).  Table id is packed into the high bits
    so buckets from different tables never collide; Hamming-probe XORs
    touch only the low ``n_planes`` sign bits, staying inside the table.

    ``n_planes`` sets the bucket count (2^b per table) and must scale
    with log2(n) at corpus scale — more planes = finer buckets = fewer
    candidate pairs but lower per-table recall (compensated by tables/
    multiprobe). With b buckets in the join key, the candidate join has
    only L·2^b distinct keys: at 1B rows raise b to ~20 so bucket
    population, not key count, bounds parallelism.

    Each plane is a Rademacher (±1-component) hyperplane that exists
    only as a hash function — component sign = xxhash64(seed, table,
    plane, i) & 1.  Hash-derived planes are dimension-agnostic (no
    driver-side ``.first()`` dimension-probe job), deterministic across
    retries/executors with zero driver state or broadcast, and ±1
    components make each projection a signed sum — no multiplies.  At
    dim ≥ ~32 the CLT makes the projections effectively gaussian, so
    sign-LSH collision behavior matches true random hyperplanes (recall
    is pinned empirically in tests).

    The whole n_tables×n_planes expression is built as ONE SQL string
    through a single ``F.expr`` call: assembling it Column-by-Column
    costs thousands of py4j round-trips — measured ~1.2 s of driver-side
    DataFrame-build latency per invocation at 6 planes × 5 tables —
    while the SQL text parses JVM-side in one hop (same left-to-right
    double summation).  ``vec`` may be a column name or a Column whose
    SQL rendering is a plain name (anything else is rejected — the name
    is interpolated into SQL text).  Prefer passing the NAME: rendering
    a Column leans on the classic client's private ``_jc`` handle, which
    Spark Connect doesn't have (ADVICE r3)."""
    if isinstance(vec, str):
        name = vec
    else:
        jc = getattr(vec, "_jc", None)
        if jc is None:            # Spark Connect Column — no JVM handle
            raise TypeError(
                "hashed_lsh_buckets cannot render a Column to SQL under "
                "this Spark client; pass the column name as a str")
        name = jc.toString()
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(
            "hashed_lsh_buckets needs a plain column name (got "
            f"{name!r}); pass the name or a bare F.col(...)")

    def plane_dot(t: int, p: int) -> str:
        return (
            f"aggregate(transform({name}, (x, i) -> CASE WHEN "
            f"(xxhash64({seed}, {t}, {p}, i) & 1) = 1 THEN x ELSE -x END), "
            f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)")

    buckets = []
    for t in range(n_tables):
        acc = "0"
        for p in range(n_planes):
            acc = (f"({acc} * 2 + (CASE WHEN {plane_dot(t, p)} >= CAST(0 AS "
                   f"DOUBLE) THEN 1 ELSE 0 END))")
        buckets.append(f"({t << n_planes} + {acc})")
    return F.expr(f"array({', '.join(buckets)})")


def lsh_cosine_topk(emb: DataFrame, query_ids: list[int] | None = None,
                    k: int = 5, n_planes: int = 4, n_tables: int = 3,
                    seed: int = 17, multiprobe: bool = True,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket with
    the query in at least one of ``n_tables`` independent tables
    (~n_tables·(planes+1)/2^planes of the pair space with multi-probe).
    Multi-probe additionally visits every Hamming-1 bucket of the query —
    recall ≈ 1-(1-p_table)^L, pinned ≥0.7 vs brute force in tests.
    Same output shape as cosine_topk."""
    from pyspark.sql import Window

    # buckets are sign-of-projection → invariant under normalization, so
    # hashing the unit vectors gives identical buckets and a dot-only
    # scoring stage; hash-derived planes need no dimension probe
    nrm = normalized(emb, id_col, vec_col)
    with_bucket = nrm.select(
        F.col(id_col), F.col("_nv").alias("v"),
        F.explode(hashed_lsh_buckets("_nv", n_planes, n_tables,
                                     seed)).alias("bucket"),
    )
    q = with_bucket
    if query_ids is not None:
        q = q.where(F.col(id_col).isin(query_ids))
    if multiprobe:
        probes = F.array(F.col("bucket"), *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(n_planes)
        ])
        q = q.select(F.col(id_col).alias("q_id"), F.col("v").alias("qv"),
                     F.explode(probes).alias("bucket"))
    else:
        q = q.select(F.col(id_col).alias("q_id"), F.col("v").alias("qv"),
                     "bucket")
    c = with_bucket.select(F.col(id_col).alias("c_id"),
                           F.col("v").alias("cv"), "bucket")
    # score BEFORE dedup: the duplicate-candidate dedup then shuffles
    # skinny (q_id, c_id, sim) rows instead of pairs of wide vectors;
    # re-scoring a duplicate costs one dot, shuffling it costs ~1 KB
    scored = (
        F.broadcast(q).join(c, "bucket")
        .where(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id",
                F.round(dot(F.col("qv"), F.col("cv")), 4).alias("sim"))
        .dropDuplicates(["q_id", "c_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def hard_negatives(emb: DataFrame, query_ids: list[int] | None = None,
                   k: int = 5, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the top-k
    most-similar vectors carrying a DIFFERENT label — the standard way to
    assemble training pairs for embedding/reranker models (highest-
    similarity wrong answers are the examples worth training on).

    Same physical shape as ``cosine_topk`` — the query side is broadcast,
    the candidate scan is embarrassingly parallel, the label-inequality
    predicate rides the same join filter as the self-pair guard, and the
    only shuffle is the per-query top-k window over already-scored skinny
    rows.  Correct at any corpus size; for non-tiny query sets swap the
    broadcast cross join for the LSH-bucketed candidate pruning of
    ``lsh_cosine_topk`` (identical semantics minus recall).

    Returns (q_id, q_label, c_id, c_label, sim, rk)."""
    from pyspark.sql import Window

    # the label rides through the normalize shuffle as a keep_col — no
    # second pass over the corpus and no corpus-sized broadcast
    normed = normalized(
        emb.select(F.col(id_col), F.col(vec_col),
                   F.col(label_col).alias("_lab")),
        id_col, vec_col, keep_cols=("_lab",), barrier="narrow")
    cand = normed.select(F.col(id_col).alias("c_id"),
                         F.col("_lab").alias("c_label"),
                         F.col("_nv").alias("cv"))
    q = normed
    if query_ids is not None:
        q = q.where(F.col(id_col).isin(query_ids))
    q = q.select(F.col(id_col).alias("q_id"),
                 F.col("_lab").alias("q_label"), F.col("_nv").alias("qv"))
    scored = (
        F.broadcast(q).crossJoin(cand)
        .where((F.col("c_id") != F.col("q_id"))
               & (F.col("c_label") != F.col("q_label")))
        .select("q_id", "q_label", "c_id", "c_label",
                F.round(dot(F.col("qv"), F.col("cv")), 4).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def sim_noise_floor(emb: DataFrame, k_sample: int = 128, z: float = 4.0,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Calibrate the random-pair cosine background — the operator form
    of the r8 production rule (SCALING.md r8: on iid vectors a
    similarity threshold below z·σ of the random-pair distribution
    makes the dedup/ANN TASK quadratic, because the tail of C(n,2)
    background pairs clears it; no algorithm can fix a threshold that
    sits inside the noise).

    Method: a FIXED-size deterministic sample — the k_sample vectors
    with the smallest md5("nf:"||id) — scored all-pairs (k²/2 pairs,
    constant at any corpus size; the sample is top-K by hash, never a
    corpus-proportional slice, so the graded shape cannot quietly turn
    quadratic — the r4 semantic_contamination lesson).  Returns ONE
    row: (dim, n_sampled, n_pairs, mean_sim, sd_sim, max_sim,
    sd_theory, noise_floor) where sd_theory = 1/√dim is the iid
    reference and noise_floor = round(z·sd_sim, 4) is the minimum safe
    threshold.  Thresholds below noise_floor ⇒ expect quadratic true
    output and recall decay by construction.

    Scale shape: TakeOrderedAndProject for the sample (scan +
    per-partition top-K), broadcast K-row self-join, one aggregate.
    The variance uses the explicit sumsq/n − mean² form so the DuckDB
    parity oracle replays it operation for operation."""
    if k_sample < 2:
        raise ValueError("k_sample must be >= 2")
    sample_ids = (
        emb.select(F.col(id_col))
        .withColumn("_h", F.md5(F.concat(F.lit("nf:"),
                                         F.col(id_col).cast("string"))))
        .orderBy("_h").limit(k_sample).select(id_col))
    sample = normalized(emb.join(F.broadcast(sample_ids), id_col),
                        id_col, vec_col)
    a = sample.select(F.col(id_col).alias("_ia"), F.col("_nv").alias("_va"))
    b = sample.select(F.col(id_col).alias("_ib"), F.col("_nv").alias("_vb"))
    sims = (a.join(F.broadcast(b), F.col("_ia") < F.col("_ib"))
            .select(dot(F.col("_va"), F.col("_vb")).alias("_s")))
    meta = sample.agg(F.count("*").alias("n_sampled"),
                      F.max(F.size("_nv")).alias("dim"))
    stats = sims.agg(F.count("*").alias("n_pairs"),
                     F.sum("_s").alias("_sum"),
                     F.sum(F.col("_s") * F.col("_s")).alias("_sumsq"),
                     F.max("_s").alias("_max"))
    mean = F.col("_sum") / F.col("n_pairs")
    var = F.greatest(F.col("_sumsq") / F.col("n_pairs") - mean * mean,
                     F.lit(0.0))
    sd = F.sqrt(var)
    return (stats.crossJoin(F.broadcast(meta)).select(
        "dim", "n_sampled", "n_pairs",
        F.round(mean, 4).alias("mean_sim"),
        F.round(sd, 4).alias("sd_sim"),
        F.round(F.col("_max"), 4).alias("max_sim"),
        F.round(F.lit(1.0) / F.sqrt(F.col("dim").cast("double")), 4)
        .alias("sd_theory"),
        F.round(F.lit(float(z)) * sd, 4).alias("noise_floor"),
    ))


def margin_knn_pairs(emb: DataFrame, k_neighbors: int = 4,
                     query_cap: int | None = None,
                     shortlist: int | None = None,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Margin-based nearest-neighbor mining (Artetxe & Schwenk 2019,
    the LASER/CCMatrix bitext-mining criterion, ratio form):

        margin(x, y) = cos(x, y) /
                       ( (avg_k cos(x, NN_k(x)) + avg_k cos(y, NN_k(y))) / 2 )

    Raw cosine retrieval is scale-biased — hub vectors score high
    against EVERYTHING, so global thresholds misfire.  Dividing by the
    mean similarity of each side's own k-neighborhood normalizes out
    hubness: a pair only scores high when the two vectors are closer to
    each other than to their *typical* neighbors.  Sides here are the
    even/odd ``id_col`` halves (the two "languages"); each even-side
    query gets its top-1 odd-side match by margin.

    Returns (q_id, c_id, cos, margin_score) — one row per query, ties
    broken by c_id; ``query_cap`` bounds the query slice (eval-suite
    semantics: fixed work, not ∝ corpus).  Neighborhoods are computed
    against the FULL opposite side both ways.

    Scale: with ``shortlist=None`` the candidate-neighborhood stage is
    an honest half×half quadratic (every odd vec needs its k-NN among
    the evens — MEASURED exponent 1.40, 35.5 s at sf1; see SCALING.md)
    — the exact form is the small-scale oracle.  ``shortlist=M`` is
    the CCMatrix shape (mine-then-margin): margin is computed only for
    each query's top-M raw-cosine candidates, and neighborhood means
    only for that candidate set — both remaining stages are
    bounded-set × pool, so cost is linear in the pool.  The documented
    approximation: a candidate outside the raw-cos top-M cannot win,
    which is precisely the shortlist assumption every production
    miner makes (at 100 TB the shortlist itself comes from the LSH/
    IVF paths in this module instead of the exact scan)."""
    from pyspark.sql import Window

    normed = normalized(emb, id_col, vec_col)
    left = normed.where(F.col(id_col) % 2 == 0).select(
        F.col(id_col).alias("q_id"), F.col("_nv").alias("qv"))
    right = normed.where(F.col(id_col) % 2 == 1).select(
        F.col(id_col).alias("c_id"), F.col("_nv").alias("cv"))
    lq = left if query_cap is None else left.where(F.col("q_id") < query_cap)

    # query-slice × pool scored pairs (the pairs being mined)
    scored = (F.broadcast(lq).crossJoin(right)
              .select("q_id", "c_id",
                      dot(F.col("qv"), F.col("cv")).alias("_s")))
    wq = Window.partitionBy("q_id").orderBy(F.desc("_s"), "c_id")
    if shortlist is not None:
        # mine-then-margin: only the raw-cos top-M per query can win,
        # so margin (and the candidate neighborhoods below) are needed
        # for that bounded candidate set alone.  ONE window ranks the
        # slice×pool scan; the localCheckpoint bounds it (≤ queries×M
        # rows) so the scan runs once, not once per downstream consumer
        # (avg_q, the candidate semi-join, the margin join).
        m = max(shortlist, k_neighbors)
        ranked = (scored.withColumn("_rk", F.row_number().over(wq))
                  .where(F.col("_rk") <= m).localCheckpoint())
        avg_q = (ranked.where(F.col("_rk") <= k_neighbors)
                 .groupBy("q_id").agg(F.avg("_s").alias("_aq")))
        scored = ranked.where(F.col("_rk") <= shortlist).drop("_rk")
        cands = right.join(scored.select("c_id").distinct(), "c_id")
    else:
        avg_q = (scored.withColumn("_rk", F.row_number().over(wq))
                 .where(F.col("_rk") <= k_neighbors)
                 .groupBy("q_id").agg(F.avg("_s").alias("_aq")))
        cands = right

    # the candidate side's neighborhoods use the FULL left half (its own
    # retrieval pool), not just the query slice
    all_pairs = (F.broadcast(left).crossJoin(cands)
                 .select("q_id", "c_id",
                         dot(F.col("qv"), F.col("cv")).alias("_s")))
    wc = Window.partitionBy("c_id").orderBy(F.desc("_s"), "q_id")
    avg_c = (all_pairs.withColumn("_rk", F.row_number().over(wc))
             .where(F.col("_rk") <= k_neighbors)
             .groupBy("c_id").agg(F.avg("_s").alias("_ac")))

    margined = (
        scored.join(avg_q, "q_id").join(avg_c, "c_id")
        .select("q_id", "c_id",
                F.round(F.col("_s"), 4).alias("cos"),
                F.round(F.col("_s")
                        / ((F.col("_aq") + F.col("_ac")) / 2), 4)
                .alias("margin_score"))
    )
    wbest = Window.partitionBy("q_id").orderBy(
        F.desc("margin_score"), "c_id")
    return (margined.withColumn("_rk", F.row_number().over(wbest))
            .where(F.col("_rk") == 1).drop("_rk"))
