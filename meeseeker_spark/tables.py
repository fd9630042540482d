"""Driver-table access (TESTDATA.md).

All loads go through ``load``/``register_views`` so every query in the
catalog reads via the same path: plain parquet scans, letting Catalyst do
predicate pushdown + column pruning (check with ``.explain``: PushedFilters /
ReadSchema should reflect the query, not the full table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp columns whose physical parquet encoding has varied across
# driver-generated fixture versions: TIMESTAMP(NANOS) (readable only as long
# via the legacy conf; floor-divided to micros, the same truncation DuckDB
# applies) or TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
# TIMESTAMP_NTZ).  Either way we normalize to a proper TimestampType column
# under the pinned UTC session zone so downstream unix_micros()/windowing
# behaves identically.
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The driver owns the session; pin the confs our results depend on
    # (all runtime-settable session confs). UTC keeps timestamp
    # formatting aligned with the DuckDB oracle's naive timestamps.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # performance pin (r9, see session.get_spark): keep the
    # InferFiltersFromGenerate rule excluded in driver-owned sessions
    # too — it plants an O(len²) re-tokenizing filter under every
    # shingle/gram explode.  Merge-safe: preserves any rules the
    # session already excludes.
    _infer = ("org.apache.spark.sql.catalyst.optimizer."
              "InferFiltersFromGenerate")
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    if not cur:
        spark.conf.set("spark.sql.optimizer.excludedRules", _infer)
    elif _infer not in cur:
        spark.conf.set("spark.sql.optimizer.excludedRules",
                       cur + "," + _infer)
    nano_cols = _NANO_TS_COLS.get(name, ())
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_physical_schema(spark, path)).parquet(path)
    return normalize_ts(df, nano_cols)


# (path, mtime_ns, size) → StructType.  Schema inference re-reads the
# parquet footer on EVERY spark.read.parquet call — measured 0.109 s vs
# 0.029 s with an explicit schema at sf0.1 (r15), ~0.1-0.2 s of pure
# driver latency per query build, and at warehouse scale footer sampling
# over many files is strictly worse.  This memoizes METADATA only (the
# fixture files are immutable; mtime+size key invalidates if a test
# overwrites a path) — never rows, so every action still computes from
# the parquet inputs.
_SCHEMA_CACHE: dict[tuple[str, int, int], object] = {}


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    the driver-latency twin of ``_physical_schema`` (r15): the builders
    that auto-scale a parameter to corpus size (``auto_planes`` /
    ``auto_clusters``) each paid a full ``df.count()`` Spark job at
    QUERY BUILD time — measured 456 ms per build at sf0.1, and a real
    distributed job at scale.  The footer's num_rows is the same exact
    count (parquet writers record it per file), read driver-side in
    ~1 ms.  Metadata only — memoized under the same mtime+size key as
    the schema cache, never rows.  Falls back to ``load(...).count()``
    for path layouts pyarrow can't resolve."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = ("rows", path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = ("rows", path, -1, -1)
    n = _SCHEMA_CACHE.get(key)
    if n is None:
        try:
            import pyarrow.parquet as pq
            if os.path.isdir(path):
                n = sum(
                    pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
                    for r, _dirs, fs in os.walk(path)
                    for f in fs if f.endswith(".parquet"))
            else:
                n = pq.ParquetFile(path).metadata.num_rows
        except Exception:
            n = load(spark, sf_dir, name).count()
        _SCHEMA_CACHE[key] = n
    return n


def spread_scan(df: DataFrame, min_parallelism: int | None = None
                ) -> DataFrame:
    """Guide §2.5 input-skew remedy for unsplittable small inputs,
    decided at BUILD time: when the plan yields fewer partitions than
    the cluster's parallelism (the fixture tables are single-row-group
    parquet files — ONE effective scan task at every bench SF), an
    operator whose narrow per-row compute is heavy runs essentially
    serial; a round-robin repartition of the slim input rows hands
    every core a slice for a trivially small local shuffle.  Measured
    sf0.1: winnow_fingerprints 4.85 → 0.75 s, ngram_repetition
    2.87 → 0.54 s.  At scale this is a NO-OP branch — a corpus whose
    scan already fills the cluster is returned unchanged, so no
    full-corpus exchange is ever added where it could hurt (the same
    blanket repartition measured SLOWER on every agg-first headline
    query, so callers opt in only where narrow compute dominates).

    Deterministic under retries: keyless repartition round-robins after
    a local sort (sortBeforeRepartition, Spark default) — retried tasks
    reproduce their row→partition assignment."""
    spark = df.sparkSession
    want = min_parallelism or spark.sparkContext.defaultParallelism
    try:
        have = df.rdd.getNumPartitions()
    except Exception:       # Connect / exotic plans: leave unchanged
        return df
    return df if have >= want else df.repartition(want)


def _physical_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # directory datasets / remote schemes: key on path only
        key = (path, -1, -1)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


def normalize_ts(df: DataFrame, cols) -> DataFrame:
    """Normalize fixture timestamp columns to TimestampType regardless of
    the physical parquet encoding (shared by batch loads and the file
    stream source in tests)."""
    for c in cols:
        if c not in df.columns:
            continue
        if isinstance(df.schema[c].dataType, LongType):
            # integer div, NOT /1000: epoch-nanos (~1.7e18) exceed double's
            # 2^53 mantissa, so float division drifts by whole microseconds
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(df.schema[c].dataType, TimestampNTZType):
            # NTZ micros: reinterpret the wall-clock value as UTC (session
            # zone is pinned to UTC, so the cast is value-preserving and
            # matches DuckDB's naive-timestamp semantics)
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


#: The fixture tables every bench/sweep harness warms before timing —
#: ONE list (r16 review: five hand-maintained copies of the same warm
#: loop had grown across bench.py and tools/; a missed edit silently
#: benches cold scans).
WARM_TABLES = ("region", "lineitem", "orders", "events", "documents",
               "embeddings")


def warm_tables(spark: SparkSession, sf_dir: str) -> None:
    """Warm file listings + parquet footers (count() is metadata-served)
    so bench timings measure steady-state execution, not first-touch
    filesystem effects."""
    for t in WARM_TABLES:
        load(spark, sf_dir, t).count()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for spark.sql queries."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
