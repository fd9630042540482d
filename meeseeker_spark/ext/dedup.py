"""Deduplication operators (SURVEY §2 F1/F2, driver north star).

- exact: hash-groupBy with a controlled survivor (min id wins) — one shuffle
  on the dedup key, no driver state.
- near-dup: MinHash + LSH banding. Shingle → k md5-minhash signatures →
  band keys → bucket self-join → exact Jaccard verify on candidates only.
  The pair space is pruned from O(n²) to Σ|bucket|² — the standard path to
  near-dup at 100 TB (band buckets shuffle-partition naturally; a skewed
  bucket means a true dup cluster, which AQE's skew-join splitting handles).
- SimHash: 64-bit sign-aggregated token hashes; Hamming-ball candidates via
  16-bit band exact-match (any pair within Hamming distance 3 shares at
  least one of 4 bands).

MinHash hashes each shingle ONCE with md5 (not xxhash — the DuckDB oracle
must reproduce signatures bit-for-bit and lacks xxhash64), truncates to a
32-bit integer, and derives the k signature values as affine permutations
``(a_i·h + b_i) mod P`` with ``P`` the smallest prime > 2^32.  One
cryptographic hash per shingle instead of k (measured 3.5 s → 0.8 s on the
sf0.1 signature stage); multipliers stay < 2^31 so ``a·h + b`` < 2^63 and
the arithmetic is overflow-free — hence bit-identical — in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import (ByteType, IntegerType, LongType, ShortType,
                               StringType)

from .text import sql_name, tokens

# id types the connected-components driver regime may compare in Python
# (see connected_components): Python int ordering matches Spark's for
# every integral width, and the result widens to bigint as it always has.
_CC_INT_TYPES = (ByteType, ShortType, IntegerType, LongType)


def _tiebreak_cols(df: DataFrame) -> list[Column]:
    """Tie-break hash inputs for every column: Spark's hash expressions
    reject MapType (map equality is order-insensitive, so a content
    hash over one is ill-defined) and VariantType anywhere in the type
    tree — hashing every column unconditionally made exact_dedup raise
    AnalysisException on any frame carrying a map payload (r15 second
    review), even when the tie-break never decides anything.  A
    top-level map whose key/value types are themselves hashable is
    CANONICALIZED instead of dropped — ``array_sort(map_entries(c))``
    is entry-order-independent, so rows differing only in that map
    still get a deterministic survivor; only types no sorted projection
    can fix (variant; maps nested in deeper maps) fall out of the
    hash, with the docstring caveat."""
    from pyspark.sql import types as T

    variant = getattr(T, "VariantType", ())

    def ok(dt) -> bool:
        if isinstance(dt, T.MapType) or (variant and isinstance(dt, variant)):
            return False
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    cols: list[Column] = []
    for f in df.schema.fields:
        if ok(f.dataType):
            cols.append(F.col(f.name))
        elif isinstance(f.dataType, T.MapType) \
                and ok(f.dataType.keyType) and ok(f.dataType.valueType):
            cols.append(F.array_sort(F.map_entries(f.name)))
    return cols


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep one row per key group — the survivor is min(order_col), so reruns
    pick the same winner (dropDuplicates' winner is partition-order luck).

    order_col TIES fall back to a full-row content hash (r15 review):
    without it, equal order values (same ingest timestamp, a routine
    batch-load case) handed the pick back to partition-order luck.  Rows
    identical in every column remain interchangeable, so the survivor is
    a pure function of the data on any partitioning.  Map-typed columns
    (which Spark's hash expressions reject) enter the hash as their
    sorted entry arrays, so rows differing only in a map payload still
    pick deterministically; only variant columns and maps nested inside
    deeper maps have no canonical projection and fall out of the
    tie-break — rows whose ONLY difference lives there tie
    arbitrarily."""
    w = Window.partitionBy(*keys).orderBy(
        order_col, F.xxhash64(*_tiebreak_cols(df)))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles_from_tokens(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a tokens column; whole text as one
    shingle when the doc is shorter than n words.

    ``w`` MUST be a bound column (projected in a previous select), not an
    inline expression: higher-order lambdas are interpreted, so an inlined
    tokenizer would re-run split+filter at every element_at site — O(len²)
    per document. ``shingle_df`` below wires this correctly.
    """
    name = sql_name(w)
    if name is not None:   # one-hop build (r15); see text.sql_name
        els = ", ".join(f"element_at({name}, i + {j + 1})"
                        for j in range(n))
        return F.expr(
            f"array_distinct(CASE WHEN size({name}) >= {n} THEN "
            f"transform(sequence(0, size({name}) - {n}), "
            f"i -> concat_ws(' ', {els})) "
            f"ELSE array(concat_ws(' ', {name})) END)")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j + 1) for j in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(w) >= n, grams)
        .otherwise(F.array(F.concat_ws(" ", w))))


def shingle_df(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingles) with the tokenize→shingle projection split so the
    token array materializes once per row (see shingles_from_tokens)."""
    return (
        df.select(F.col(id_col).alias("_id"),
                  tokens(F.col(text_col)).alias("_w"))
        .select("_id", shingles_from_tokens(F.col("_w"), n).alias("_sh"))
    )


MINHASH_PRIME = 4294967311        # smallest prime > 2^32
_MH_A = lambda i: 976369 + 104729 * i      # noqa: E731 — multipliers < 2^31
_MH_B = lambda i: 32452843 + 15485863 * i  # noqa: E731


def hashed_shingles(shingle_col: Column) -> Column:
    """32-bit integer hash per shingle: first 8 hex chars of md5.

    Must be projected as a BOUND column before minhash_signatures so the
    md5 map runs once per row, not once per signature (same rule as
    shingles_from_tokens)."""
    name = sql_name(shingle_col)
    if name is not None:   # one-hop build (r15); see text.sql_name
        return F.expr(
            f"transform({name}, s -> cast(conv(substring("
            f"md5(cast(s as binary)), 1, 8), 16, 10) as bigint))")
    from .text import md5_int32
    return F.transform(shingle_col, md5_int32)


def minhash_signatures(hashed_col: Column, k: int = 8) -> Column:
    """k MinHash signatures over pre-hashed shingles:
    sig_i = min over shingles of (a_i·h + b_i) mod MINHASH_PRIME.

    Each permutation MUST be a single-argument lambda built by a closure
    helper: a two-arg lambda (the tempting ``lambda h, i=i: ...`` idiom)
    makes ``F.transform`` bind the array INDEX column to the second
    parameter, silently replacing the permutation constant — that stays
    self-consistent inside ONE expression tree (a self-join dedup never
    notices) but breaks cross-DataFrame banding and oracle parity.
    """
    name = sql_name(hashed_col)
    if name is not None:   # one-hop build (r15); see text.sql_name
        sigs = ", ".join(
            f"array_min(transform({name}, h -> "
            f"(h * {_MH_A(i)}L + {_MH_B(i)}L) % {MINHASH_PRIME}L))"
            for i in range(k))
        return F.expr(f"array({sigs})")

    def _perm(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)

    return F.array(*[
        F.array_min(F.transform(hashed_col, _perm(_MH_A(i), _MH_B(i))))
        for i in range(k)
    ])


def _check_banding(k: int, bands: int, rows: int) -> None:
    """bands·rows signatures must exist (r15 review): an out-of-range
    ``sig[b·rows+r]`` is NULL and concat_ws SKIPS nulls, so every
    trailing band silently collapses to a constant key shared by the
    whole corpus — an O(n²) bucket (or, under max_bucket, a silently
    dropped band and lost recall).  Loud beats degenerate."""
    if k < bands * rows:
        raise ValueError(
            f"k={k} MinHash signatures cannot fill bands={bands} × "
            f"rows={rows}; need k >= bands*rows")


def band_keys(sig_col: Column, bands: int = 4, rows: int = 2) -> Column:
    """LSH banding: concat `rows` consecutive signatures per band.
    Callers validate k >= bands*rows via ``_check_banding`` (the
    signature length is runtime data here)."""
    name = sql_name(sig_col)
    if name is not None:   # one-hop build (r15); see text.sql_name
        bandexprs = ", ".join(
            f"concat_ws('|', '{b}', " + ", ".join(
                f"{name}[{b * rows + r}]" for r in range(rows)) + ")"
            for b in range(bands))
        return F.expr(f"array({bandexprs})")
    return F.array(*[
        F.concat_ws("|", F.lit(str(b)),
                    *[sig_col[b * rows + r] for r in range(rows)])
        for b in range(bands)
    ])


def near_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", threshold: float = 0.5,
                   k: int = 8, bands: int = 4, rows: int = 2,
                   n_shingle: int = 3,
                   max_bucket: int | None = None) -> DataFrame:
    """MinHash/LSH candidate generation + exact-Jaccard verification.

    Returns (doc_a, doc_b, jaccard) for pairs ≥ threshold. Deterministic:
    same input → same pairs, on any partitioning.

    ``max_bucket`` caps band-bucket width: buckets with more members are
    dropped before the self-join.  A bucket of width w contributes w²
    candidate pairs — a degenerate band key (e.g. every near-empty doc
    hashing identically) turns the join quadratic at corpus scale.  Real
    dup clusters are small; a cap like 10⁴ bounds any bucket's cost while
    AQE skew-split handles the legitimate skew below it.  With a cap,
    recall over mega-clusters is reduced (documented lower bound).
    """
    _check_banding(k, bands, rows)
    # spread_scan (r16): the shingle→md5→minhash signature — the heavy
    # narrow stage — runs on the INPUT's partitioning for all three
    # consumers of `base` (the banded exchange sits above it, so the
    # exchange-reuse never parallelizes it), and the fixture corpus is
    # a single-row-group parquet file: one core did all the hashing at
    # every bench SF.  r15 measured this spread 1.19→1.42 s and
    # rejected it, but that A/B ran under ~50% hypervisor steal; the
    # r16 quiet-box interleaved re-run wins EVERY pair at both SFs
    # (sf0.1: 1.44/1.07/0.97 → 0.73/0.93/0.69; sf1: 7.98/9.17/9.15 →
    # 2.40/3.53/2.59 — the sf1 core-scaling lane read a flat 1.07
    # ratio for exactly this reason).  Slim (id, text) projection only;
    # exact no-op branch once the scan fills the cluster (guide §2.5).
    # NOTE this also reaches the streaming screen's per-trigger in-batch
    # pass (screen_batch → near_dup_pairs): each trigger pays the
    # ~60 ms build-time partition probe plus a round-robin exchange of
    # the micro-batch's (id, text) rows, and in return the in-batch
    # signature runs parallel instead of on the file-source's single
    # split.  Measured end-to-end: bench screen extra 428.6 → 459.8
    # docs/s with this in place, replay timings unchanged, the 27-test
    # streaming battery green.
    from ..tables import spread_scan
    base = shingle_df(spread_scan(df.select(id_col, text_col)),
                      id_col, text_col, n_shingle)
    # two bound projections: the md5 map runs once per row (not once per
    # signature), and the 4 band expressions index one computed sig array
    # instead of re-hashing per band
    hashed = base.select(
        "_id", hashed_shingles(F.col("_sh")).alias("_hs"))
    sigs = hashed.select(
        "_id", minhash_signatures(F.col("_hs"), k).alias("_sigs"))
    # banded rows stay SKINNY (id, band) — shingle arrays do not ride
    # through the bucket join/dedup shuffle; they're re-joined per side
    # only for the (few) surviving candidate pairs
    banded = sigs.select(
        "_id",
        F.explode(band_keys(F.col("_sigs"), bands, rows)).alias("_band"),
    )
    if max_bucket is not None:
        # bucket-width guard as a COUNT WINDOW over _band, not a
        # groupBy+join: the window's hash-exchange on _band is the same
        # partitioning the bucket self-join needs, so the cap rides the
        # shuffle that already exists instead of adding an aggregate and
        # a join stage (measured 2.7 s → 1.4 s at sf0.1 — the groupBy
        # form doubled the query)
        wspec = Window.partitionBy("_band")
        banded = (banded.withColumn("_w", F.count("*").over(wspec))
                  .where(F.col("_w") <= max_bucket).drop("_w"))
    # self-join as a SHUFFLE join, not broadcast: with identical shuffles
    # on both sides Spark reuses one exchange, so tokenize+minhash runs
    # once instead of twice (measured 1.9× on sf0.1) — and at corpus scale
    # the banded table is never broadcastable anyway
    banded = banded.hint("shuffle_hash")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["_band"])
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = base.select(F.col("_id").alias("doc_a"), F.col("_sh").alias("_sh_a"))
    sh_b = base.select(F.col("_id").alias("doc_b"), F.col("_sh").alias("_sh_b"))
    scored = cand.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_distinct(F.concat("_sh_a", "_sh_b")))
    return (
        scored.select(
            "doc_a", "doc_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def banded_projection(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 8,
                      bands: int = 4, rows: int = 2,
                      n_shingle: int = 3) -> DataFrame:
    """(id, band) rows — the persistable MinHash/LSH index projection.
    Signatures are a pure function of the text (see minhash_signatures),
    so rows written by one job and read by another are interchangeable
    with a fresh recompute: append each ingested batch's projection to
    an index table and batch-vs-corpus screening stops re-hashing the
    history (see incremental_near_dups ``corpus_bands``)."""
    _check_banding(k, bands, rows)
    base = shingle_df(df, id_col, text_col, n_shingle)
    hashed = base.select("_id", hashed_shingles(F.col("_sh")).alias("_hs"))
    sigs = hashed.select(
        "_id", minhash_signatures(F.col("_hs"), k).alias("_sigs"))
    return sigs.select(
        F.col("_id").alias(id_col),
        F.explode(band_keys(F.col("_sigs"), bands, rows)).alias("band"),
    )


def incremental_near_dups(new_df: DataFrame, corpus_df: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          threshold: float = 0.5, k: int = 8,
                          bands: int = 4, rows: int = 2,
                          n_shingle: int = 3,
                          max_bucket: int | None = 10_000,
                          corpus_bands: DataFrame | None = None) -> DataFrame:
    """Batch-vs-corpus near-dup detection: which NEW documents are
    near-duplicates of something already in the corpus — the shape every
    continuously-ingesting training pipeline needs (each incoming batch
    screens against the historical store, not against itself; compose
    with ``near_dup_pairs(new_df)`` for within-batch dups).

    Returns (new_id, corpus_id, jaccard) for pairs ≥ threshold.

    Scale shape: both sides band to SKINNY (id, band) rows and meet in a
    shuffle join keyed on band — the corpus side never broadcasts.
    Pass ``corpus_bands`` (a persisted ``banded_projection`` table,
    appended per ingested batch) and the corpus text is never re-hashed:
    per-batch candidate-generation cost is then proportional to the
    BATCH, not the history.  Candidate verification re-shingles only the
    corpus documents that actually appear in a candidate pair (semi-join
    first, shingle after).  ``max_bucket`` drops degenerate band buckets
    on the CORPUS side (same quadratic-bucket guard as near_dup_pairs,
    same lower-bound caveat), measured by corpus width — a hot shingle
    pattern in the historical store is the skew that matters.
    """
    # spread_scan (r16, same evidence class as near_dup_pairs): both
    # sides' shingle→md5→minhash signatures are heavy narrow compute on
    # the unsplittable fixture scans — serial at any core count.
    # Interleaved A/B spreading both slim (id, text) projections:
    # sf1 6.64/6.86/6.32 → 2.22/2.02/2.00 s (×3.2, wins every pair);
    # sf0.1 within noise.  No-op branch at scale.  The streaming screen
    # is untouched — it drives incremental_candidates/verify_jaccard
    # directly with its own persisted-index layout.
    from ..tables import spread_scan
    new_df = spread_scan(new_df.select(id_col, text_col))
    corpus_df = spread_scan(corpus_df.select(id_col, text_col))
    cand = incremental_candidates(new_df, corpus_df, id_col, text_col,
                                  k, bands, rows, n_shingle, max_bucket,
                                  corpus_bands)
    return verify_jaccard(cand, new_df, corpus_df, id_col, text_col,
                          threshold, n_shingle)


def incremental_candidates(new_df: DataFrame,
                           corpus_df: DataFrame | None = None,
                           id_col: str = "doc_id", text_col: str = "text",
                           k: int = 8, bands: int = 4, rows: int = 2,
                           n_shingle: int = 3,
                           max_bucket: int | None = 10_000,
                           corpus_bands: DataFrame | None = None
                           ) -> DataFrame:
    """The banded candidate-generation stage of incremental_near_dups:
    (new_id, corpus_id) pairs that collide in ≥1 LSH band.  Exposed so
    callers that own the corpus layout (the streaming screen) can PRUNE
    the corpus read with the candidate id set before verification —
    candidate generation needs only bands, never corpus text."""
    _check_banding(k, bands, rows)
    nbands = (
        shingle_df(new_df, id_col, text_col, n_shingle)
        .select("_id", hashed_shingles(F.col("_sh")).alias("_hs"))
        .select("_id", minhash_signatures(F.col("_hs"), k).alias("_sigs"))
        .select(F.col("_id").alias("new_id"),
                F.explode(band_keys(F.col("_sigs"), bands, rows))
                .alias("_band"))
    )
    if corpus_bands is None:
        cbands = banded_projection(corpus_df, id_col, text_col, k, bands,
                                   rows, n_shingle)
    else:
        cbands = corpus_bands
    cbands = cbands.select(F.col(id_col).alias("corpus_id"),
                           F.col("band").alias("_band"))
    if max_bucket is not None:
        # width via count window, not groupBy+join — the _band hash
        # exchange it needs is the one the candidate join reuses (see
        # near_dup_pairs)
        wspec = Window.partitionBy("_band")
        cbands = (cbands.withColumn("_w", F.count("*").over(wspec))
                  .where(F.col("_w") <= max_bucket).drop("_w"))
    return (
        nbands.hint("shuffle_hash")
        .join(cbands.hint("shuffle_hash"), "_band")
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )


def verify_jaccard(cand: DataFrame, new_df: DataFrame, corpus_df: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   threshold: float = 0.5, n_shingle: int = 3) -> DataFrame:
    """Exact-Jaccard verification of (new_id, corpus_id) candidates.
    ``corpus_df`` may be pre-pruned to (a superset of) the candidate ids
    — the semi-join makes any extra rows harmless, so a caller with an
    id-pushdown-friendly corpus layout passes the pruned scan here."""
    sh_n = shingle_df(new_df, id_col, text_col, n_shingle).select(
        F.col("_id").alias("new_id"), F.col("_sh").alias("_sh_n"))
    # shingle only candidate corpus docs: filter by id BEFORE the
    # tokenize/shingle projection so the (expensive) text work runs for
    # matched rows, not the whole history
    relevant = corpus_df.join(
        cand.select(F.col("corpus_id").alias(id_col)).distinct(), id_col)
    sh_c = shingle_df(relevant, id_col, text_col, n_shingle).select(
        F.col("_id").alias("corpus_id"), F.col("_sh").alias("_sh_c"))
    inter = F.size(F.array_intersect("_sh_n", "_sh_c"))
    union = F.size(F.array_distinct(F.concat("_sh_n", "_sh_c")))
    return (
        cand.join(sh_n, "new_id").join(sh_c, "corpus_id")
        .select("new_id", "corpus_id",
                F.round(inter / union, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# Driver-regime bound for connected_components (r15): below this many
# PAIRS the whole graph fits a driver union-find at trivial cost, same
# two-regime design as ext.graph's PageRank (its 300k-row crossover is
# the measured precedent; tools/pagerank_crossover.py).  Measured here:
# the distributed loop costs ~1.5-3 s per CALL at 32 local cores even
# on a 25-pair graph — 3-4 iterations × (2 shuffle joins + an agg +
# localCheckpoint + convergence probe) of pure job-launch overhead —
# while collect + union-find + createDataFrame lands under 0.2 s and
# stays <1 s up to ~10⁵ pairs (the collect is the cost; the union-find
# itself is microseconds).  100k pairs ≈ a few MB on the driver —
# far under any driver-memory concern; past the bound the exact
# Shiloach-Vishkin loop runs unchanged.
CC_DRIVER_MAX_PAIRS = 100_000


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iter: int = 25,
                         driver_max_pairs: int | None = CC_DRIVER_MAX_PAIRS
                         ) -> DataFrame:
    """Min-label propagation over a near-dup pair graph → (doc_id,
    component) where component is the smallest doc id reachable.

    Two regimes (r15): a bounded probe collects up to
    ``driver_max_pairs`` + 1 pairs; when the graph is that small, a
    driver union-find (union-by-min, path compression) produces the
    identical label set in one pass — job-launch overhead, not data,
    dominates the distributed loop at this size (see
    CC_DRIVER_MAX_PAIRS).  Larger graphs fall through to the
    Shiloach-Vishkin loop below, paying one extra bounded scan for the
    probe.  ``driver_max_pairs=0``/None forces the distributed loop
    (the deep-chain regression test pins that path explicitly).

    Pairwise dedup keeps the min of each EDGE; real pipelines dedup whole
    clusters (A≈B, B≈C ⇒ one survivor for {A,B,C}), which needs the
    transitive closure. Each iteration is one neighbor-min step (label ←
    min(label, neighbors' labels)) plus one SHORTCUT step (label ←
    label's label — the Shiloach-Vishkin pointer jump), so the
    propagation distance DOUBLES per round and convergence needs
    O(log diameter) iterations, not diameter: max_iter=25 covers any
    component with diameter ≤ 2²⁵ unconditionally (r11 hardening — the
    plain neighbor-min loop silently returned unconverged labels on a
    >25-deep chain; now exhausting the cap raises instead, and a loud
    failure cannot reach a graded hash). ``localCheckpoint`` truncates
    the growing lineage each round — the standard Spark idiom for
    iterative graph algorithms (same loop GraphFrames' CC runs). The
    driver only orchestrates; per-row work never leaves the executors.
    """
    # Type contract (r16, VERDICT r15 item 4): the driver regime compares
    # ids in PYTHON (union-by-min) and rebuilds the result schema, so it
    # only runs for types whose Python ordering provably matches Spark's
    # min() — integrals (returned widened to bigint, the historical
    # shape) and strings (Python code-point order == UTF-8 binary order,
    # Spark's string comparison).  Anything else (floats with NaN,
    # decimals, binary, structs) falls through to the distributed loop
    # instead of crashing on int(n).
    a_t = pairs.schema[a_col].dataType
    b_t = pairs.schema[b_col].dataType
    integral = isinstance(a_t, _CC_INT_TYPES) and isinstance(
        b_t, _CC_INT_TYPES)
    stringly = isinstance(a_t, StringType) and isinstance(b_t, StringType)
    if driver_max_pairs and (integral or stringly):
        probe = (pairs.select(F.col(a_col).alias("u"),
                              F.col(b_col).alias("v"))
                 .limit(driver_max_pairs + 1).collect())
        if len(probe) <= driver_max_pairs:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:       # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in probe:
                u, v = r[0], r[1]
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union-by-min: the smaller root stays the root, so
                    # find(n) is ALWAYS the component minimum — exactly
                    # the Shiloach-Vishkin fixpoint / the recursive
                    # closure's least(u, min(v)) the graded oracle pins
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            if integral:
                rows = [(int(n), int(find(n))) for n in parent]
                schema = "doc_id bigint, component bigint"
            else:
                rows = [(n, find(n)) for n in parent]
                schema = "doc_id string, component string"
            return pairs.sparkSession.createDataFrame(rows, schema)
    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    # Convergence probe (r15): labels only ever DECREASE (min() over a
    # superset that includes the old label), and the u set is fixed, so
    # "no label changed" ⟺ "sum(label) unchanged".  The exact
    # decimal(38,0) sum replaces the old new⨝old + count probe — one
    # shuffle join and a count job per iteration became a single
    # scan-level aggregate over the just-checkpointed labels (measured
    # below; decimal keeps the sum exact up to ~1e38, far past any id
    # space × row count this loop can see — a bigint sum could wrap and
    # alias two different label sets).
    # The O(1) sum probe is only sound for INTEGRAL labels (r16): the
    # decimal(38,0) cast truncates fractional values (aliasing distinct
    # float label sets) and nulls out strings entirely (sum = NULL every
    # round, and NULL == NULL would "converge" after one iteration).
    # Non-integral ids keep exactness through the join-based changed-row
    # probe instead — one extra bounded join per iteration, the pre-r15
    # shape, paid only by the exotic-id path.
    def _label_sum(lbl: DataFrame):
        return lbl.agg(F.sum(F.col("label").cast("decimal(38,0)"))
                       ).collect()[0][0]

    def _unchanged(new: DataFrame, old: DataFrame) -> bool:
        return (new.join(old.withColumnRenamed("label", "_old"), "u")
                .where(F.col("label") != F.col("_old")).isEmpty())

    prev_sum = _label_sum(labels) if integral else None
    for _ in range(max_iter):
        prop = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .select("u", "label")
        )
        stepped = (
            labels.union(prop).groupBy("u").agg(F.min("label").alias("label"))
        )
        # pointer jump: every label is itself a node id present in
        # `stepped` (labels start as node ids and min() preserves that),
        # so one self-join hops label → label(label); left+coalesce is
        # belt-and-braces for the root (label(root) == root anyway)
        hop = stepped.select(F.col("u").alias("_lu"),
                             F.col("label").alias("_ll"))
        new_labels = (
            stepped.join(hop, stepped["label"] == hop["_lu"], "left")
            .select("u", F.least(F.col("label"),
                                 F.coalesce(F.col("_ll"), F.col("label")))
                    .alias("label"))
        ).localCheckpoint()
        if integral:
            cur_sum = _label_sum(new_labels)
            done = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            done = _unchanged(new_labels, labels)
        labels = new_labels
        if done:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations — with pointer jumping that needs a component "
            f"of diameter > 2^{max_iter}; refusing to return partial "
            "labels (a silently non-minimal component would corrupt "
            "every downstream survivor decision)")
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("label").alias("component"))


def cc_dedup(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", threshold: float = 0.5) -> DataFrame:
    """Cluster-level near-dup removal: one survivor (the min id) per
    connected component of the MinHash pair graph; singletons survive."""
    comps = connected_components(
        near_dup_pairs(df, id_col, text_col, threshold))
    losers = (comps.where(F.col("doc_id") != F.col("component"))
              .select(F.col("doc_id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def jaccard_ngram_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """EXACT n-gram Jaccard pairs via an inverted index — no sketching.

    Shape: explode distinct shingles → self-join on the shingle (the
    inverted-index posting join) → count common per pair → Jaccard from
    |A∩B| / (|A|+|B|-|A∩B|). Never materializes the O(n²) pair space:
    only pairs sharing ≥1 shingle appear, and partial aggregation
    combines map-side before the pair shuffle.

    ``max_df`` drops shingles appearing in more than max_df documents
    before the join — the standard guard against stop-shingle posting
    lists exploding the join at corpus scale (a shingle shared by 1M
    docs creates 10¹² pairs). With it set, jaccard is a lower bound.
    """
    base = shingle_df(df, id_col, text_col, n)
    sizes = base.select("_id", F.size("_sh").alias("_n"))
    # shuffle (not broadcast) self-join → one exchange feeds both sides,
    # so the corpus tokenizes once (measured 2.2× on sf0.1); see
    # near_dup_pairs for the same pattern
    inv = base.select("_id", F.explode("_sh").alias("_g")).hint("shuffle_hash")
    if max_df is not None:
        keep = (inv.groupBy("_g").agg(F.count("*").alias("_df"))
                .where(F.col("_df") <= max_df).select("_g"))
        inv = inv.join(keep, "_g")
    common = (
        inv.alias("a").join(inv.alias("b"), "_g")
        .where(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .agg(F.count("*").alias("_common"))
    )
    sa = sizes.select(F.col("_id").alias("doc_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("doc_b"), F.col("_n").alias("_nb"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(F.col("_common")
                    / (F.col("_na") + F.col("_nb") - F.col("_common")),
                    4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def embedding_dup_pairs(emb: DataFrame, threshold: float = 0.4,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Exact embedding-cosine near-dup pairs (all-pairs ground truth).

    Block-nested self-join — O(n²) score space, JVM-side arithmetic.
    This is the correctness baseline; at corpus scale use
    ``embedding_dup_pairs_lsh`` which prunes the pair space by LSH
    bucket before scoring.
    """
    from .similarity import dot, normalized

    # normalize+materialize each vector ONCE (see similarity.normalized:
    # the shuffle barrier is what stops the norm re-running per pair —
    # 41× on sf0.1 vs per-pair cosine); the oracle pre-normalizes
    # identically so the 4-dp rounding stays bit-compatible
    e = normalized(emb, id_col, vec_col) \
        .withColumnRenamed(id_col, "_id")
    a = e.select(F.col("_id").alias("vec_a"), F.col("_nv").alias("_va"))
    b = e.select(F.col("_id").alias("vec_b"), F.col("_nv").alias("_vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b",
                F.round(dot(F.col("_va"), F.col("_vb")), 4).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def embedding_dup_pairs_lsh(emb: DataFrame, threshold: float = 0.4,
                            n_planes: int = 4, n_tables: int = 3,
                            seed: int = 17,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup at scale: random-hyperplane buckets prune the
    self-join to same-bucket (+ Hamming-1 multiprobe) pairs across
    ``n_tables`` independent tables (OR-construction), then exact cosine
    verifies — ~n_tables·(planes+1)/2^planes of the all-pairs space.
    Same output shape as embedding_dup_pairs; recall < 1 by design,
    pinned ≥0.7 vs the exact baseline in tests.

    Shape notes for 100 TB (and measured 4× at sf0.1 vs the naive form):
    the candidate join and pair dedup move ONLY (id, bucket) / (id, id)
    rows — carrying the vectors through them shuffles ~1 KB per candidate
    instead of 16 B, which made the naive version slower than brute
    force.  Vectors re-attach by two joins against the normalized table
    only for the surviving deduped pairs (AQE broadcasts that side when
    small; at scale they are shuffle joins keyed on id — no skew, ids are
    unique).  Planes are hash-derived (similarity.hashed_lsh_buckets): no
    dimension probe, no driver state."""
    from .similarity import (dot, hashed_lsh_buckets, normalized,
                             pinned_shuffle_partitions)

    e = normalized(emb, id_col, vec_col)
    buckets = e.select(
        F.col(id_col).alias("_id"),
        F.explode(
            hashed_lsh_buckets("_nv", n_planes, n_tables, seed)
        ).alias("_bucket"),
    )
    # bucket barrier (r15): both candidate-join sides consume `buckets`,
    # but the shared subtree used to end at the NORMALIZE exchange — the
    # executed plan showed the n_tables·n_planes signature dots computed
    # twice (once above the exchange, once above its ReusedExchange).
    # Repartitioning the skinny (id, bucket) rows moves the reuse point
    # ABOVE the signature: one extra 16-byte-per-row shuffle buys the
    # whole second signature pass — at corpus scale that is 30
    # interpreted plane-dots per row.  Same explicit-N rule as
    # normalized's barrier (AQE would coalesce the tiny exchange to one
    # partition otherwise).
    buckets = buckets.repartition(
        pinned_shuffle_partitions(emb.sparkSession), "_id")
    # multiprobe on ONE side only, else Hamming-2 pairs sneak in twice
    a = buckets.select(
        F.col("_id").alias("vec_a"),
        F.explode(F.array(F.col("_bucket"), *[
            F.col("_bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(n_planes)
        ])).alias("_bucket"),
    )
    b = buckets.select(F.col("_id").alias("vec_b"), "_bucket")
    cand = (
        a.join(b, "_bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = e.select(F.col(id_col).alias("vec_a"), F.col("_nv").alias("_va"))
    vb = e.select(F.col(id_col).alias("vec_b"), F.col("_nv").alias("_vb"))
    return (
        cand.join(va, "vec_a").join(vb, "vec_b")
        .select("vec_a", "vec_b",
                F.round(dot(F.col("_va"), F.col("_vb")), 4).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def simhash_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: explode tokens, hash once, then 64
    static-bit sign-sums in ONE hash aggregate (partial aggregation makes
    the token shuffle carry only 64 counters per doc — the scale-correct
    shape; per-row loops or Python UDFs are not)."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    ).select("_id", F.xxhash64("_t").alias("_h"))
    # one-hop build (r15, see text.sql_name): the 64 bit-sum aggregates
    # + the 64-step OR fold were ~128 py4j Column round-trips ≈ 2.3 s
    # of DRIVER build latency per query; the SQL strings parse JVM-side
    # into the IDENTICAL catalyst expressions (same CaseWhen/shiftright
    # trees, values unchanged)
    bit_sums = toks.groupBy("_id").agg(*[
        F.expr(f"sum(CASE WHEN (shiftright(_h, {b}) & 1) = 1 "
               f"THEN 1 ELSE -1 END) AS _b{b}")
        for b in range(64)
    ])
    sim = " | ".join(
        f"(CASE WHEN _b{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(64))
    return bit_sums.select(
        "_id", F.expr(f"CAST(0 AS BIGINT) | {sim}").alias("_sh"))


def simhash_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_hamming: int = 3) -> DataFrame:
    """Candidate pairs within a Hamming ball: split the 64-bit hash into 4
    16-bit bands; any pair at distance ≤ 3 must agree on ≥ 1 band
    (pigeonhole), so band-equality buckets catch all of them.

    The 4-band layout is kept verbatim for the graded entry's stability
    (see hamming_band_pairs, the generalized form), so the pigeonhole
    guarantee holds only up to distance 3 — a larger ``max_hamming``
    would silently lose candidates whose flips spread across all four
    bands, hence the loud guard (r15 review)."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-band pigeonhole "
            "guarantee (distance <= 3); use hamming_band_pairs("
            "simhash_table(...), hash_bits=64) for larger radii")
    base = simhash_table(df, id_col, text_col)
    bands = base.select(
        "_id", "_sh",
        F.explode(F.array(*[
            F.concat_ws("|", F.lit(str(b)),
                        F.shiftright(F.col("_sh"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF)))
            for b in range(4)
        ])).alias("_band"),
    )
    bands = bands.hint("shuffle_hash")  # exchange-reuse: see near_dup_pairs
    l = bands.select(F.col("_id").alias("doc_a"), F.col("_sh").alias("_ha"), "_band")
    r = bands.select(F.col("_id").alias("doc_b"), F.col("_sh").alias("_hb"), "_band")
    cand = (
        l.join(r, ["_band"]).where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_bucket_projection(emb: DataFrame, n_planes: int = 4,
                                n_tables: int = 3, seed: int = 17,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> DataFrame:
    """(id, bucket) rows — the persistable sign-LSH index projection for
    embeddings, the vector twin of ``banded_projection``: buckets are a
    pure function of (vector, seed, planes, tables), so rows appended by
    one ingest job are interchangeable with a fresh recompute.  Persist
    one per ingested batch and batch-vs-corpus screening stops
    re-projecting the history."""
    from ..tables import spread_scan
    from .similarity import hashed_lsh_buckets, normalized

    # narrow barrier (r15): the projection has exactly one consumer, so
    # the exchange bought nothing but a corpus shuffle — the explode
    # barrier keeps the once-per-row norm with zero shuffle.
    # spread_scan (r16): with ONLY narrow barriers upstream, the
    # signature dots (n_tables·n_planes interpreted plane-dots per row —
    # 50/row at the sf1 entry's auto-scaled sizing) ran on the
    # unsplittable fixture scan's 1-2 partitions, SERIAL on any core
    # count — the r16 sf1 core-scaling lane read 0.66× going 8→32 cores
    # for incremental_embedding_dups because of exactly this stage.
    # Round-robin spreading the slim (id, vec) projection hands every
    # core a slice; measured interleaved ×3: sf1 ~28 → ~7.3 s, sf0.1
    # 2.4-3.0 → 1.8-2.2 s, wins every pair.  Exact no-op branch once the
    # scan fills the cluster (guide §2.5), so nothing is added at scale.
    e = normalized(spread_scan(emb.select(id_col, vec_col)),
                   id_col, vec_col, barrier="narrow")
    return e.select(
        F.col(id_col).alias("_id"),
        F.explode(
            hashed_lsh_buckets("_nv", n_planes, n_tables, seed)
        ).alias("_bucket"),
    )


def incremental_embedding_dups(new_emb: DataFrame, corpus_emb: DataFrame,
                               threshold: float = 0.4,
                               n_planes: int = 4, n_tables: int = 3,
                               seed: int = 17,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               max_bucket: int | None = 10_000,
                               corpus_buckets: DataFrame | None = None
                               ) -> DataFrame:
    """Batch-vs-corpus embedding near-dup screen: which NEW vectors are
    near-duplicates (cosine ≥ threshold) of something already ingested —
    the ANN twin of ``incremental_near_dups``, for pipelines that dedup
    on embeddings rather than text.

    Returns (new_id, corpus_id, sim), sim 4-dp rounded.

    Scale shape mirrors the text path: both sides project to SKINNY
    (id, bucket) rows and meet in a shuffle join keyed on bucket — the
    corpus side never broadcasts and never re-projects when a persisted
    ``embedding_bucket_projection`` table is passed as
    ``corpus_buckets``; per-batch candidate cost is then proportional to
    the BATCH.  Multiprobe (Hamming-1) runs on the NEW side only.
    ``max_bucket`` drops degenerate buckets measured by CORPUS width
    (a constant-embedding flood in the history is the skew that
    matters).  Vectors re-attach id-keyed only for surviving candidates.
    """
    from .similarity import dot, normalized

    # ONE bucket definition for both sides and the persisted index —
    # the index≡recompute contract breaks silently if these ever drift
    nb = embedding_bucket_projection(
        new_emb, n_planes, n_tables, seed, id_col, vec_col
    ).select(F.col("_id").alias("new_id"), "_bucket")
    nb = nb.select(
        "new_id",
        F.explode(F.array(F.col("_bucket"), *[
            F.col("_bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(n_planes)
        ])).alias("_bucket"),
    )
    if corpus_buckets is not None:
        cb = corpus_buckets.select(F.col("_id").alias("corpus_id"),
                                   "_bucket")
    else:
        cb = embedding_bucket_projection(
            corpus_emb, n_planes, n_tables, seed, id_col, vec_col
        ).select(F.col("_id").alias("corpus_id"), "_bucket")
    if max_bucket is not None:
        keep = (cb.groupBy("_bucket").agg(F.count("*").alias("_w"))
                .where(F.col("_w") <= max_bucket).select("_bucket"))
        cb = cb.join(keep, "_bucket")
    raw = (
        nb.hint("shuffle_hash").join(cb.hint("shuffle_hash"), "_bucket")
        .select("new_id", "corpus_id")
    )
    # pinned dedup barrier (r15): with narrow barriers on every upstream
    # projection, AQE coalesces the dedup's skinny pair shuffle to ONE
    # partition at small sizes — and the whole verify (two broadcast
    # joins + one interpreted dot per candidate PAIR) then runs serial
    # on that single task.  Repartitioning on exactly the dedup keys
    # replaces the AQE-managed exchange (the aggregate reuses the
    # distribution — exchange count unchanged) with an explicit-N one
    # that keeps the candidate-sized dot stage parallel.  Map-side
    # partial dedup is lost, but duplicates of a pair collide in
    # DIFFERENT buckets, i.e. different map partitions — the partial
    # pass removed almost nothing.  Measured sf0.1, interleaved ×5:
    # wins every pair, mean −1.0 s on ~6 s (220k candidate dots moved
    # from 1 task to 32); output-identical.
    from .similarity import pinned_shuffle_partitions
    cand = (
        raw.repartition(pinned_shuffle_partitions(new_emb.sparkSession),
                        F.col("new_id"), F.col("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    # semi-join BEFORE normalizing the verification side (the text
    # twin's "semi-join first, shingle after" rule): with a persisted
    # index the corpus otherwise pays a full normalize pass just to
    # score a candidate-sized subset.  `hit` deliberately hangs off the
    # PRE-barrier pairs: pair-dedup ahead of a coarser distinct is a
    # semantic no-op the optimizer used to elide anyway, and deriving it
    # from `cand` would force the pinned exchange into the semi-join
    # path too (+1 exchange for nothing).
    hit = raw.select(F.col("corpus_id").alias(id_col)).distinct()
    # narrow barriers (r15): each verify side feeds exactly one join —
    # no reuse point needed, no shuffle of either vector set
    ec = normalized(corpus_emb.join(hit, id_col, "left_semi"),
                    id_col, vec_col, barrier="narrow")
    en = normalized(new_emb, id_col, vec_col, barrier="narrow")
    va = en.select(F.col(id_col).alias("new_id"), F.col("_nv").alias("_va"))
    vb = ec.select(F.col(id_col).alias("corpus_id"),
                   F.col("_nv").alias("_vb"))
    joined = cand.join(va, "new_id").join(vb, "corpus_id")
    return (
        joined
        .select("new_id", "corpus_id",
                F.round(dot(F.col("_va"), F.col("_vb")), 4).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def leakage_safe_split(docs: DataFrame, val_frac: float = 0.1,
                       id_col: str = "doc_id", text_col: str = "text",
                       threshold: float = 0.5,
                       max_bucket: int | None = 10_000) -> DataFrame:
    """Train/val split with near-dup leakage protection: val is a
    deterministic hash slice of the corpus, and any TRAIN document that
    is a near-duplicate of some val document is dropped from train
    (labeled ``dropped``) — otherwise the model sees the eval answers
    during training and val loss silently lies.  The standard held-out
    hygiene step of a pretraining pipeline, run at corpus scale.

    Returns (id_col, split) with split ∈ {'val', 'train', 'dropped'}.

    The split decision is a salted md5 of the id (retry/engine/oracle
    stable — the same idiom as stratified_sample); the leak screen is
    ``incremental_near_dups`` with train as the batch side and val as
    the corpus side, so the machinery, its ``max_bucket`` guard, and its
    scale shape (skinny banded shuffle join, verification restricted to
    candidates) are inherited unchanged.  Cost ∝ banding both sides +
    candidate verification — the same as one screening pass, NOT a
    train×val cross product.

    The flagged-id set labels train rows through ONE left join + when()
    (r7, VERDICT r6 item 6): the previous anti-join-plus-union-branch
    layout referenced the screen's subtree twice, and column pruning
    specializes the two copies so AQE never materializes a
    ReusedExchange — the whole banded screen (band join AND Jaccard
    verification) executed twice.  Measured at sf1: 11.0 → 6.3 s,
    17 → 9 exchanges."""
    from .text import md5_int32

    bucket = F.pmod(
        md5_int32(F.concat(F.lit("split:"), F.col(id_col).cast("string"))),
        F.lit(10_000))
    # round, don't truncate (r15 review): int(0.57*10_000) is 5699 —
    # binary-unrepresentable fractions lost one hash bucket from val
    cut = int(round(val_frac * 10_000))
    val = docs.where(bucket < cut)
    train0 = docs.where(bucket >= cut)
    flagged = (incremental_near_dups(train0, val, id_col, text_col,
                                     threshold, max_bucket=max_bucket)
               .select(F.col("new_id").alias(id_col)).distinct())
    return (
        val.select(id_col).withColumn("split", F.lit("val"))
        .unionByName(
            train0.select(id_col)
            .join(flagged.withColumn("_leak", F.lit(True)), id_col, "left")
            .select(id_col,
                    F.when(F.col("_leak"), F.lit("dropped"))
                    .otherwise(F.lit("train")).alias("split")))
    )


def dedup_weights(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", threshold: float = 0.5,
                  max_bucket: int | None = 10_000) -> DataFrame:
    """Soft deduplication: instead of dropping near-duplicates, keep
    every document and DOWNWEIGHT it by its near-dup cluster size —
    weight = 1/|cluster| makes each duplicated passage contribute one
    document's worth of probability mass to downstream sampling (the
    SoftDeDup idea: hard dropping loses the distributional signal that
    a text was popular; reweighting keeps it at de-duplicated strength).

    Returns (id_col, cluster, cluster_size, weight) for EVERY input
    document — singletons carry their own id, size 1, weight 1.0.
    Cost = the near-dup pair graph + connected components the hard-drop
    path already runs; the weight attach is a component-keyed join of
    skinny rows plus a left join back to the corpus ids."""
    comp = connected_components(
        near_dup_pairs(docs, id_col=id_col, text_col=text_col,
                       threshold=threshold, max_bucket=max_bucket))
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("_csize"))
    comp = (comp.join(sizes, "component")
            .select(F.col("doc_id").alias("_cdoc"), "component", "_csize"))
    return (
        docs.select(F.col(id_col))
        .join(comp, F.col(id_col) == F.col("_cdoc"), "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
            F.coalesce(F.col("_csize"), F.lit(1)).cast("bigint")
            .alias("cluster_size"),
            F.round(F.lit(1.0) / F.coalesce(F.col("_csize"), F.lit(1)), 4)
            .alias("weight"),
        )
    )


def hamming_band_pairs(table: DataFrame, id_col: str = "doc_id",
                       hash_col: str = "phash",
                       max_hamming: int = 6,
                       hash_bits: int = 60,
                       max_bucket: int | None = None) -> DataFrame:
    """Generic Hamming-ball candidate join for any integer hash column
    (the media-phash consumer; ``simhash_dup_pairs`` above is the
    original 4-band/64-bit text specialization, kept verbatim for its
    graded entry's stability).

    Pigeonhole: split the ``hash_bits``-bit hash into ``max_hamming+1``
    disjoint bands — at most ``max_hamming`` flipped bits can touch at
    most that many bands, so every pair within the ball agrees on >= 1
    band and band-equality buckets are a LOSSLESS candidate set (exact
    recall, verified by brute force in tests).  Shape is the standard
    skinny banded self-join (shuffle_hash hint → one exchange feeds
    both sides); verification is one bit_count(xor) per candidate.
    Returns (doc_a, doc_b, hamming), a < b.  NULL hashes (undecodable
    media) never pair.

    ``max_bucket`` is the same bucket-width guard as near_dup_pairs
    (count window riding the join's own exchange): a band key shared by
    w rows contributes w² candidates, and band width is only
    hash_bits/(max_hamming+1) bits — ~9 bits at the defaults — so on
    NEAR-UNIFORM hash distributions bucket width grows ∝ n and the
    join quadratic (measured: the md5 stand-in hash at sf1).  Real
    perceptual hashes cluster tightly, but the cap bounds the
    worst case; below it the candidate set stays lossless.

    Band widths are distributed floor/remainder style (the first
    ``hash_bits % n_bands`` bands get one extra bit) so every band
    covers >= 1 bit.  The earlier ceil-width scheme left trailing bands
    empty whenever ``b*ceil_w >= hash_bits`` (e.g. hash_bits=10,
    max_hamming=6), producing a constant band key shared by every row —
    a silent full cross-join band — and crashed on a negative shift for
    e.g. hash_bits=60, max_hamming=13."""
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    n_bands = max_hamming + 1
    if n_bands > hash_bits:
        raise ValueError("max_hamming + 1 bands need hash_bits >= bands")
    base, rem = divmod(hash_bits, n_bands)
    widths = [base + (1 if b < rem else 0) for b in range(n_bands)]
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    h = F.col("_h")
    bands = (
        table.where(F.col(hash_col).isNotNull())
        .select(F.col(id_col).alias("_id"),
                F.col(hash_col).cast("long").alias("_h"))
        .select("_id", "_h", F.explode(F.array(*[
            F.concat_ws("|", F.lit(str(b)),
                        F.shiftright(h, offsets[b]).bitwiseAND(
                            F.lit((1 << widths[b]) - 1)))
            for b in range(n_bands)
        ])).alias("_band"))
    )
    if max_bucket is not None:
        wspec = Window.partitionBy("_band")
        bands = (bands.withColumn("_w", F.count("*").over(wspec))
                 .where(F.col("_w") <= max_bucket).drop("_w"))
    bands = bands.hint("shuffle_hash")
    l = bands.select(F.col("_id").alias("doc_a"),
                     F.col("_h").alias("_ha"), "_band")
    r = bands.select(F.col("_id").alias("doc_b"),
                     F.col("_h").alias("_hb"), "_band")
    cand = (
        l.join(r, ["_band"]).where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.8,
                      max_df: int | None = None) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs — the asymmetric Jaccard
    (Broder 1997's "containment": C(A,B) = |A∩B| / |A|).

    Symmetric Jaccard misses the quote/embedding case: a short doc
    pasted inside a much longer one has |A∩B| ≈ |A| but
    |A∪B| ≈ |B| ≫ |A|, so J ≈ |A|/|B| → 0 while C(A→B) ≈ 1.  This is
    the set-level analog of the ExactSubstr span family (ext/spans
    finds the literal repeated bytes; this finds wholesale gram-set
    inclusion regardless of ordering/interleaving).

    Returns (doc_a, doc_b, containment_a_in_b, containment_b_in_a,
    jaccard) for pairs where EITHER direction's containment ≥
    ``threshold`` — both directions reported so the consumer can tell
    "A is quoted by B" from "the two are mutual near-copies".  Same
    inverted-index shape, shuffle-hint and ``max_df`` stop-shingle
    guard as ``jaccard_ngram_pairs`` (with max_df set, counts are
    lower bounds).  All arithmetic is integer counts + one division
    rounded 4 dp — DuckDB-exact in tests/test_ext.py.
    """
    base = shingle_df(df, id_col, text_col, n)
    sizes = base.select("_id", F.size("_sh").alias("_n"))
    inv = base.select("_id", F.explode("_sh").alias("_g")).hint("shuffle_hash")
    if max_df is not None:
        keep = (inv.groupBy("_g").agg(F.count("*").alias("_df"))
                .where(F.col("_df") <= max_df).select("_g"))
        inv = inv.join(keep, "_g")
    common = (
        inv.alias("a").join(inv.alias("b"), "_g")
        .where(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .agg(F.count("*").alias("_common"))
    )
    sa = sizes.select(F.col("_id").alias("doc_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("doc_b"), F.col("_n").alias("_nb"))
    c_ab = F.round(F.col("_common") / F.col("_na"), 4)
    c_ba = F.round(F.col("_common") / F.col("_nb"), 4)
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            c_ab.alias("containment_a_in_b"),
            c_ba.alias("containment_b_in_a"),
            F.round(F.col("_common")
                    / (F.col("_na") + F.col("_nb") - F.col("_common")),
                    4).alias("jaccard"),
        )
        .where((F.col("containment_a_in_b") >= threshold)
               | (F.col("containment_b_in_a") >= threshold))
    )


def dedup_eval(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", threshold: float = 0.5,
               max_df: int | None = 100,
               max_bucket: int | None = 10_000) -> DataFrame:
    """Recall accounting of the banded MinHash screen against the exact
    inverted-index ground truth — the observability operator that turns
    "our LSH recall is fine" into a measured, driver-checkable number
    (pairs with sim_noise_floor, the r9 embedding-side calibration op).

    One row of INTEGER counts over the same corpus, same shingles, same
    threshold:

    - ``n_exact``   pairs ≥ threshold under the ``max_df``-guarded exact
      join (the guard makes exact jaccard a LOWER bound — see
      jaccard_ngram_pairs);
    - ``n_banded``  pairs the banded screen emits (band collision +
      full-shingle verify, ``max_bucket`` guard);
    - ``n_common``  found by both;
    - ``n_missed_by_bands``  exact pairs the bands missed (band
      non-collision or a capped bucket — the LSH recall loss, the
      number a production screen must watch);
    - ``n_outside_guard``  banded pairs the guarded exact join cannot
      see (their overlap rides stop-shingles ``max_df`` dropped; NOT
      false positives — the banded verify uses full shingle sets).

    Scale: both inputs are the existing sub-quadratic pipelines; the
    comparison is one full-outer join on (doc_a, doc_b) pair keys plus
    a single count aggregate — pair-mass-sized, never corpus².
    All-integer output ⇒ boundary-safe rotation fodder under the
    r9/r10 hash rule; DuckDB-exact in
    tests/test_ext.py::test_dedup_eval_vs_duckdb."""
    exact = jaccard_ngram_pairs(df, id_col, text_col,
                                threshold=threshold, max_df=max_df) \
        .select("doc_a", "doc_b", F.lit(True).alias("_e"))
    banded = near_dup_pairs(df, id_col, text_col, threshold=threshold,
                            max_bucket=max_bucket) \
        .select("doc_a", "doc_b", F.lit(True).alias("_b"))
    both = exact.join(banded, ["doc_a", "doc_b"], "full_outer")
    e = F.col("_e").isNotNull()
    b = F.col("_b").isNotNull()
    # coalesce: sum over an EMPTY agg is NULL, and a clean corpus with
    # zero qualifying pairs must report integer zeros, not NULLs
    # (r11 review)
    def _n(cond, alias):
        return F.coalesce(F.sum(cond.cast("long")),
                          F.lit(0).cast("long")).alias(alias)

    return both.agg(
        _n(e, "n_exact"),
        _n(b, "n_banded"),
        _n(e & b, "n_common"),
        _n(e & ~b, "n_missed_by_bands"),
        _n(~e & b, "n_outside_guard"),
    )
