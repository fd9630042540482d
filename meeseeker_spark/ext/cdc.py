"""Content-defined chunking (CDC) dedup for binary/multimodal columns
(SURVEY §2 F5×F2 extension, driver north star).

Doc-level dedup hashes whole payloads; two media blobs that differ by a
few inserted bytes (re-encoded header, EXIF edit, prepended metadata)
share NO whole-blob hash.  CDC cuts every blob into variable-size chunks
at *content-determined* boundaries — a rolling hash over the last
``WINDOW`` bytes, cut where ``hash & mask == 0`` — so an insertion only
perturbs the chunks it touches and every downstream chunk re-aligns.
This is the rsync/LBFS/FastCDC idea (Muthitacharoen et al., SOSP'01;
Xia et al., ATC'16) as a Spark operator: the cross-corpus duplicated-
chunk table is the storage-dedup / near-identical-blob report.

Design choices, all in service of determinism + scale:

- **Gear rolling hash, windowed formulation.** gear[b] is derived from
  md5 of the byte value (no RNG, no seed state to ship); the hash at
  position i is  H_i = Σ_{k=0..63} gear[data[i-k]] << k  (mod 2^64) —
  it depends on exactly the last 64 bytes, which is what makes cuts
  content-defined and insert-robust.  The windowed form (unlike
  FastCDC's per-chunk fp reset) never resets at chunk starts, so a
  boundary's position is a pure function of local content — stronger
  re-alignment after edits.
- **Vectorized in numpy, not a per-byte Python loop**: the window sum
  is 64 shifted uint64 adds over the whole array (wraparound IS the
  mod-2^64), so the Python crossing cost is per-BLOB, not per-byte;
  blobs reach Python as Arrow batches via mapInPandas.  This is the
  sanctioned slow path — a rolling hash over raw bytes has no JVM
  built-in expression.
- **min/max chunk bounds** (FastCDC normalization): boundaries below
  min_size are skipped (also keeps the 64-byte window inside the
  region scanned for cuts, since min_size >= WINDOW), and a cut is
  forced at max_size so adversarial/byte-uniform content cannot create
  unbounded chunks.
- The duplicated-chunk report is groupBy(chunk_hash) with map-side
  partial aggregation — the shuffle moves (16-hex hash, 2 ints) per
  chunk, never chunk bytes.

Correctness gate: a pure-Python reference chunker in
tests/test_ext.py::test_cdc_chunks_match_python_oracle (bit-for-bit,
fixture + synthetic), plus the shift-robustness property (insertion at
the front, shared tail chunks recovered) that fixed-size chunking
provably fails.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

WINDOW = 64  # rolling-hash span in bytes; boundaries depend on exactly this much context

#: gear table: 256 deterministic 64-bit values, gear[b] = first 16 md5
#: hex chars of the single byte b.  Derived, not random — every executor
#: and the test oracle rebuild the identical table from nothing.
_GEAR = [int(hashlib.md5(bytes([b])).hexdigest()[:16], 16)
         for b in range(256)]

CHUNK_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("chunk_no", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("length", T.LongType()),
    T.StructField("chunk_hash", T.StringType()),
])


def _make_cut_points(gear: list[int], window: int):
    """Build the cut-point function from plain values, so mapInPandas
    closures capture it BY VALUE (cloudpickle cells) — a module-global
    reference would make executors import meeseeker_spark, which the
    driver's worker environment does not guarantee (same rule as
    ext.multimodal's fully-nested decoders)."""

    def cut_points(data: bytes, min_size: int, max_size: int,
                   mask: int) -> list[int]:
        """End offsets (exclusive) of every chunk of ``data``: numpy
        windowed gear hash → candidate cut set → one walk over the
        (sparse) candidates honoring min/max bounds.  Pure function of
        the bytes — the test oracle re-implements it per-byte."""
        import numpy as np

        n = len(data)
        if n == 0:
            return []
        arr = np.frombuffer(data, dtype=np.uint8)
        g = np.asarray(gear, dtype=np.uint64)[arr]
        h = g.copy()
        for k in range(1, min(window, n)):
            # H[i] += gear[data[i-k]] << k; uint64 wraparound == mod 2^64
            # (cap at n: a negative python slice bound would wrap around)
            h[k:] += g[: n - k] << np.uint64(k)
        cand = np.flatnonzero((h & np.uint64(mask)) == 0) + 1  # cut AFTER i
        cuts: list[int] = []
        s = 0
        while n - s > max_size:
            lo = np.searchsorted(cand, s + min_size, side="left")
            hi = np.searchsorted(cand, s + max_size, side="right")
            c = int(cand[lo]) if lo < hi else s + max_size
            cuts.append(c)
            s = c
        cuts.append(n)
        return cuts

    return cut_points


#: driver-side convenience handle (tests, ad-hoc use); the UDF rebuilds
#: its own copy from the captured values.
_cut_points = _make_cut_points(_GEAR, WINDOW)


def cdc_chunks(df: DataFrame, id_col: str = "doc_id",
               bytes_col: str = "media.bytes",
               min_size: int = 64, max_size: int = 512,
               mask: int = 0x3F) -> DataFrame:
    """Explode every blob into CDC chunks:
    (doc_id, chunk_no, offset, length, chunk_hash).

    ``mask`` with p set bits targets an average chunk of min_size + 2^p
    bytes between the bounds.  chunk_hash is the md5-prefix (16 hex
    chars) of the chunk BYTES — the identity downstream dedup joins on.
    NULL/empty blobs emit no rows (doc-level policy owns them).
    mapInPandas: one Arrow batch in, one chunk table out; nothing but
    (id, blob) crosses into Python and only skinny chunk rows cross
    back."""
    if not (WINDOW <= min_size < max_size):
        raise ValueError("need WINDOW <= min_size < max_size")

    cut_points = _make_cut_points(list(_GEAR), WINDOW)

    def chunk_batches(batches):
        import hashlib as hl

        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                                    ("doc_id", "chunk_no", "offset",
                                     "length", "chunk_hash")}
            for doc_id, blob in zip(pdf["_id"], pdf["_b"]):
                # a NULL id arrives as NaN and int(NaN) would kill the
                # whole task on every retry (r15 review — the same
                # poisoned-row contract as pack_bins_ffd); chunks are
                # keyed by doc_id, so an unattributable blob is skipped
                if blob is None or pd.isna(doc_id):
                    continue
                data = bytes(blob)
                s = 0
                for i, c in enumerate(cut_points(data, min_size,
                                                 max_size, mask)):
                    out["doc_id"].append(int(doc_id))
                    out["chunk_no"].append(i)
                    out["offset"].append(s)
                    out["length"].append(c - s)
                    out["chunk_hash"].append(
                        hl.md5(data[s:c]).hexdigest()[:16])
                    s = c
            yield pd.DataFrame(out)

    # r15: the Python chunker is the heavy narrow stage — on an
    # unsplittable small scan it ran serial (1.42 → 0.84 s at sf0.1);
    # spread_scan is a no-op once the scan fills the cluster, so a real
    # many-partition blob corpus is never re-shuffled (guide §2.5)
    from ..tables import spread_scan
    skinny = spread_scan(
        df.select(F.col(id_col).cast("long").alias("_id"),
                  F.col(bytes_col).alias("_b")))
    return skinny.mapInPandas(chunk_batches, CHUNK_SCHEMA)


def chunk_dups(chunks: DataFrame, min_docs: int = 2) -> DataFrame:
    """Cross-blob duplicated-chunk table: (chunk_hash, chunk_bytes,
    n_docs, n_occurrences, dup_bytes) for chunks appearing in
    >= min_docs distinct blobs.  dup_bytes = bytes storage-dedup would
    reclaim (all occurrences past the first).  Skinny groupBy — partial
    aggregation absorbs mega-duplicated chunks map-side."""
    per_doc = (chunks.groupBy("chunk_hash", "doc_id")
               .agg(F.count("*").alias("_occ"),
                    F.min("length").alias("_len")))
    return (
        per_doc.groupBy("chunk_hash")
        .agg(F.min("_len").alias("chunk_bytes"),
             F.count("*").alias("n_docs"),
             F.sum("_occ").alias("n_occurrences"))
        .where(F.col("n_docs") >= min_docs)
        .select("chunk_hash", "chunk_bytes", "n_docs", "n_occurrences",
                ((F.col("n_occurrences") - 1) * F.col("chunk_bytes"))
                .alias("dup_bytes"))
    )
