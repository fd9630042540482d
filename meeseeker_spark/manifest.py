"""Manifest-committed parquet store — the Delta-equivalent commit protocol
(VERDICT r3 item 7; SURVEY §4 O-3 upgrade path).

Without Delta/Iceberg, this module is the ONE commit protocol every
per-trigger streaming sink writes through (ops, channels, ``_meta``, the
witness-schedule publish log, the block-channel publisher).  It rests on
the one primitive a transactional table actually needs: **readers only
see files listed in the newest committed manifest, and a manifest commit
is a single atomic rename**.

Layout:

    <path>/data/commit-<token>/part-*.parquet     immutable data files
    <path>/_manifest/v{N}.json                    committed versions

Each ``v{N}.json`` holds ``files`` (the table, relative to ``<path>``),
``batch_ids`` (the replay short-circuit) and ``schema`` (the table's
``StructType`` as JSON).  The schema is taken from the staged frame at
commit time — ``overwrite`` records its frame's, ``append``, ``expire``
and ``fold`` carry the recorded one forward — so a read hands it to
``spark.read.schema(...)`` and never runs Spark's footer-inference job.
An ``append`` (or ``fold``) whose columns differ from the recorded
schema by name or type raises ValueError before anything is staged;
nullability and column order are ignored, as Spark reads every file
column nullable and by name.  A version with no ``schema`` key (written
before schemas were recorded) reads through inference and gets one on
its next commit.

Protocol:

- WRITE: stage a new commit dir with Spark, list its part files, then
  commit manifest vN+1 = previous files ± changes via write-tmp + atomic
  ``os.rename``.  A crash before the rename leaves an orphan data dir that
  no reader ever sees (Spark is never pointed at ``data/`` itself); re-run
  and ``gc()`` clean it.  No ``.old`` roll-back/forward cases remain — the
  store is ALWAYS in exactly the state of its newest manifest.
- IDEMPOTENT APPEND: ``append(df, batch_id)`` records the batch id in the
  manifest; a retried foreachBatch sees its id committed and becomes a
  no-op (exactly-once without overwrite semantics).
- TTL EXPIRE: rewrite ONLY the files that contain expired rows (file set
  found via ``input_file_name``); every untouched file is re-referenced,
  not rewritten — byte-identical.  The cutoff rule (``_live``) and the
  ``max_keys`` live count share this module with it.
- GC: delete data files not referenced by the kept manifest tail.  Safe at
  any time; crashes between commit and gc only leave garbage, never lose
  referenced data.

Single-writer assumption (one maintenance/ingest job at a time) —
manifest versions make that explicit AND structural: every
write path captures the manifest version it READ and commits v(read+1)
via an os.link compare-and-swap, so a writer interleaving anywhere in the
read → stage → commit window collides on the link and raises instead of
silently dropping the other commit (lost update).

At real scale the same design is why Delta/Iceberg win: the manifest is a
metadata operation, O(files-touched), never O(store).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"


def is_manifest_store(path: str) -> bool:
    """THE committed-version probe, so the marker dir name has one home.

    A path counts as a manifest store only once a version is COMMITTED
    (a ``v*.json`` exists), not when the marker dir appears (ADVICE r6):
    ManifestStore() eagerly creates ``_manifest/`` at construction, so a
    marker-dir probe would report a store whose first commit crashed
    (or has not landed yet) as readable."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return False
    return any(f.startswith("v") and f.endswith(".json")
               and f[1:-5].isdigit() for f in os.listdir(mdir))


def open_committed(spark: SparkSession,
                   path: str) -> ManifestStore | None:
    """The store at ``path`` once a version is committed, else None (a
    missing or never-committed path).  Probes before constructing, so
    no read creates directories on a path that is not a store.

    Parquet files under ``path`` with no committed manifest (outside a
    crashed first commit's ``data/`` orphans) are outside input — a
    plain parquet dump — and raise ValueError instead of being served
    as an empty store (r15: a silent no-op reset still deleted the
    HWM)."""
    if is_manifest_store(path):
        return ManifestStore(spark, path)
    skeleton = os.path.isdir(os.path.join(path, _MANIFEST_DIR))
    for root, dirs, names in os.walk(path):
        if root == path and skeleton:
            dirs[:] = [d for d in dirs if d != _DATA_DIR]
        if any(n.endswith(".parquet") for n in names):
            raise ValueError(
                f"{path} holds parquet files but no committed manifest — "
                "not a manifest store")
    return None


def _epoch_s(ts: dt.datetime) -> int:
    """Naive datetimes in this API mean UTC (every default is
    ``datetime.now(timezone.utc)`` stripped naive).  TTL comparisons run
    on ``ingested_at.cast("long")`` (epoch seconds — a property of the
    INSTANT) against this value, never on ``F.lit(naive_datetime)`` —
    a datetime literal converts through the PYTHON PROCESS's OS
    timezone (PySpark ``TimestampType.toInternal``), so on a non-UTC
    box the cutoff would skew by the OS offset (r12 hardening, found
    while chasing the engine-tip-age session-tz bug; the epoch form
    makes the invariant structural instead of environmental)."""
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp())


def _live(ttl_s: int, now: dt.datetime | None) -> Column:
    """THE TTL cutoff rule: a row is live while its ``ingested_at`` is
    within ``ttl_s`` of ``now`` (epoch-seconds compare, session-tz
    independent).  NULL ``ingested_at`` means "no recorded ingest
    time" and is always live — deleting it would be uncounted data
    loss.  ``~_live(...)`` is exactly the expired set (NULL-safe: the
    OR is TRUE for NULL rows, so its negation is FALSE)."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    cutoff_s = _epoch_s(now - dt.timedelta(seconds=ttl_s))
    return ((F.col("ingested_at").cast("long") >= F.lit(cutoff_s))
            | F.col("ingested_at").isNull())


def _relaxed(t: T.DataType) -> T.DataType:
    """``t`` with every nullability flag set and field metadata dropped:
    the shape a commit's column check compares."""
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _relaxed(f.dataType))
                             for f in t.fields])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_relaxed(t.elementType))
    if isinstance(t, T.MapType):
        return T.MapType(_relaxed(t.keyType), _relaxed(t.valueType))
    return t


def _schema_to_record(m: dict, df: DataFrame) -> dict:
    """The schema a commit of ``df`` into manifest ``m`` records: the
    recorded one, after checking ``df`` has its columns by name and type
    (ValueError naming the differing columns otherwise), or ``df``'s own
    when ``m`` records none."""
    if "schema" not in m:
        return df.schema.jsonValue()
    want = {f.name: _relaxed(f.dataType)
            for f in T.StructType.fromJson(m["schema"]).fields}
    got = {f.name: _relaxed(f.dataType) for f in df.schema.fields}
    if got != want:
        missing = sorted(want.keys() - got.keys())
        extra = sorted(got.keys() - want.keys())
        retyped = sorted(f"{c} {want[c].simpleString()} -> "
                         f"{got[c].simpleString()}"
                         for c in want.keys() & got.keys()
                         if want[c] != got[c])
        raise ValueError(
            "columns differ from the recorded schema: "
            f"missing {missing}, unexpected {extra}, retyped {retyped}")
    return m["schema"]


class ManifestStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def _mdir(self) -> str:
        return os.path.join(self.path, _MANIFEST_DIR)

    def current_version(self) -> int | None:
        versions = [
            int(f[1:-5]) for f in os.listdir(self._mdir())
            if f.startswith("v") and f.endswith(".json")
            and f[1:-5].isdigit()
        ]
        return max(versions) if versions else None

    def _read_manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v is None:
            return {"version": 0, "files": [], "batch_ids": []}
        with open(os.path.join(self._mdir(), f"v{v}.json")) as f:
            return json.load(f)

    def _commit(self, files: list[str], batch_ids: list[int],
                base_version: int, schema: dict | None = None) -> int:
        """Atomically publish manifest v(base_version+1) — a COMPARE-AND-
        SWAP against the version the caller READ, not whatever is newest
        at link time.  Every write path is read-manifest → long Spark
        stage → commit; recomputing prev at the commit point would let a
        writer that interleaved with another's commit link v(N+2) built
        from the v(N) file list, silently dropping the other commit
        (ADVICE r12).  Pinning new_v to base+1 means ANY intervening
        commit collides on the link and raises instead of winning."""
        new_v = base_version + 1
        m = {"version": new_v, "files": sorted(files),
             "batch_ids": sorted(set(batch_ids))}
        if schema is not None:
            m["schema"] = schema
        tmp = os.path.join(self._mdir(), f".tmp-{uuid.uuid4().hex}.json")
        final = os.path.join(self._mdir(), f"v{new_v}.json")
        with open(tmp, "w") as f:
            json.dump(m, f)
            f.flush()
            os.fsync(f.fileno())
        # link, not rename: POSIX rename silently REPLACES an existing
        # target, so a check-then-rename race between two writers would
        # lose a commit — link fails atomically with FileExistsError,
        # making the documented "concurrent commit raises instead of
        # corrupting" guarantee structural (r12 review).  The link IS
        # the commit point; a crash before the unlink leaves a .tmp
        # that gc() already sweeps.
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise RuntimeError(
                f"manifest v{new_v} already exists — a concurrent writer "
                f"committed after this one read v{base_version}; re-read "
                "and retry (single-writer assumption violated)")
        os.unlink(tmp)
        return new_v

    def _stage(self, df: DataFrame) -> list[str]:
        """Write df to a fresh immutable commit dir; return its part files
        (relative to the store root).  Not yet visible to anyone."""
        token = uuid.uuid4().hex[:12]
        rel = os.path.join(_DATA_DIR, f"commit-{token}")
        df.write.mode("error").parquet(os.path.join(self.path, rel))
        out = []
        for root, _, names in os.walk(os.path.join(self.path, rel)):
            for n in names:
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    out.append(os.path.relpath(os.path.join(root, n),
                                               self.path))
        return out

    # -- read side ----------------------------------------------------------

    def versions(self) -> list[int]:
        """Manifest versions still on disk, ascending.  gc() drops old
        manifest json, so this is also the time-travel horizon."""
        return sorted(
            int(f[1:-5]) for f in os.listdir(self._mdir())
            if f.startswith("v") and f.endswith(".json")
            and f[1:-5].isdigit())

    def _manifest_at(self, version: int | None) -> dict:
        if version is not None and version not in self.versions():
            raise FileNotFoundError(
                f"manifest store {self.path} has no version {version} "
                f"(on disk: {self.versions()}; gc() prunes history)")
        return self._read_manifest(version)

    def files(self, version: int | None = None) -> list[str]:
        return list(self._manifest_at(version)["files"])

    def _read(self, files: list[str], schema: dict | None) -> DataFrame:
        """THE parquet read of a file list: with the recorded schema no
        Spark job runs; a version that records none is inferred."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(schema))
        return reader.parquet(*[os.path.join(self.path, f) for f in files])

    def df(self, version: int | None = None) -> DataFrame:
        """The committed table — at ``version`` for time travel (the
        snapshot-diff/audit read; pair two versions with
        ext.diff.corpus_diff).  Every version is an immutable file LIST,
        so old reads cost nothing extra — but gc(keep_versions=K)
        reclaims files unreferenced by the newest K manifests, which
        bounds how far back is readable; a pruned version raises
        instead of silently returning partial data."""
        m = self._manifest_at(version)
        files = m["files"]
        if not files:
            raise FileNotFoundError(
                f"manifest store {self.path} has no committed data"
                + ("" if version is None else f" at version {version}"))
        missing = [f for f in files
                   if not os.path.exists(os.path.join(self.path, f))]
        if missing:
            eff = self.current_version() if version is None else version
            raise FileNotFoundError(
                f"version {eff} references {len(missing)} gc'd "
                f"file(s) (e.g. {missing[0]}); "
                + ("the CURRENT manifest is broken — files were pruned "
                   "externally" if version is None else
                   "raise gc keep_versions to retain time-travel history"))
        return self._read(files, m.get("schema"))

    def committed_batch_ids(self) -> set[int]:
        return set(self._read_manifest()["batch_ids"])

    # -- write side ---------------------------------------------------------

    def append(self, df: DataFrame, batch_id: int | None = None) -> bool:
        """Append df as a new commit.  With ``batch_id``, the append is
        IDEMPOTENT: a batch id already in the manifest is skipped (the
        foreachBatch retry contract), returning False.  ``df`` must have
        the recorded schema's columns (ValueError otherwise)."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return False
        schema = _schema_to_record(m, df)
        staged = self._stage(df)
        ids = m["batch_ids"] + ([batch_id] if batch_id is not None else [])
        self._commit(m["files"] + staged, ids, m["version"], schema)
        return True

    def overwrite(self, df: DataFrame) -> None:
        """Replace the table with ``df``, recording ``df``'s schema."""
        base = self._read_manifest()["version"]
        staged = self._stage(df)
        self._commit(staged, [], base, df.schema.jsonValue())

    def expire(self, ttl_s: int, now: dt.datetime | None = None) -> int:
        """TTL retention as a manifest swap: only files CONTAINING expired
        rows are rewritten (live rows re-staged); every other file is
        re-referenced untouched.  Returns rows removed; ``ttl_s == -1``
        disables expiry (reference semantics: keys live forever).
        Crash-safe with no recovery protocol at all: before the commit
        rename readers see the old manifest, after it the new one —
        there is no intermediate state."""
        if ttl_s == -1:
            return 0
        m = self._read_manifest()
        if not m["files"]:
            return 0
        from urllib.parse import unquote, urlparse

        live = _live(ttl_s, now)
        df = self.df().withColumn("_file", F.input_file_name())
        # ONE job finds the hot files AND the expired row count per file
        # (keyed on the RAW input_file_name URIs — reconstructing them
        # from relative paths is scheme/slash-fragile)
        per_file = (df.where(~live).groupBy("_file")
                    .agg(F.count("*").alias("_n")).collect())
        if not per_file:
            return 0
        hot = {os.path.relpath(unquote(urlparse(r["_file"]).path), self.path)
               for r in per_file}
        n_removed = sum(r["_n"] for r in per_file)
        # re-stage ONLY the hot files' live rows: the read is a direct
        # scan of those files, never the whole store
        kept_rows = self._read(sorted(hot), m.get("schema")).where(live)
        schema = _schema_to_record(m, kept_rows)
        staged = self._stage(kept_rows)
        keep = [f for f in m["files"] if f not in hot]
        self._commit(keep + staged, m["batch_ids"], m["version"], schema)
        return n_removed

    def live_count(self, ttl_s: int, now: dt.datetime | None = None) -> int:
        """The ``max_keys`` admission-control probe: rows ``expire``
        would keep (``ttl_s == -1`` counts every row)."""
        df = self.df()
        if ttl_s != -1:
            df = df.where(_live(ttl_s, now))
        return df.count()

    def fold(self, fn: Callable[[DataFrame], DataFrame]) -> int:
        """Commit ``fn(table)`` as the whole table, carrying the recorded
        schema forward.  Returns the number of files folded; a table of
        at most one file is left as it is (0).  The base version is read
        BEFORE ``fn`` sees the table, so a commit landing in between
        collides on the CAS link instead of being dropped.

        A fold also PRUNES the recorded batch ids to the replayable
        tail (r14 review): the list otherwise grows one int per trigger
        forever — a year of 3 s triggers is ~10M ids rewritten into the
        manifest json on EVERY commit, O(stream-age) work on the ingest
        hot path.  Only the newest trigger can ever replay (Structured
        Streaming replays exactly the batches after the checkpoint's
        last commit, and trigger N+1 only runs once commit N landed),
        so ids ≤ max−1 can never be retried; the tail {max−1, max} is
        kept with one slot of paranoia.  A pre-prune id arriving anyway
        means a FRESH checkpoint was pointed at this store — the misuse
        reset exists for, unchanged by pruning."""
        m = self._read_manifest()
        if len(m["files"]) <= 1:
            return 0
        df = fn(self.df())
        schema = _schema_to_record(m, df)
        staged = self._stage(df)
        ids = m["batch_ids"]
        if ids:
            ids = [i for i in ids if i >= max(ids) - 1]
        self._commit(staged, ids, m["version"], schema)
        return len(m["files"])

    def compact(self, sort_cols: tuple[str, ...] = (),
                target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Fold the accumulated per-commit small files into one fresh
        commit (OPTIMIZE in Delta terms).  Output file count is sized
        from the store's actual bytes (``target_file_bytes`` per file,
        Delta's default bin size), so a thousand trigger-sized files
        fold to a handful.  Optional ``sort_cols`` cluster rows within
        the rewritten files so min/max row-group pruning stays sharp
        (columns absent from the schema are skipped).  Returns the
        number of files folded (0 = single file already).  Readers are
        never disturbed: the swap is one manifest commit (``fold``, which
        also prunes the batch ids), and the old files remain until
        ``gc()``."""
        total = sum(os.path.getsize(os.path.join(self.path, f))
                    for f in self.files())
        n_out = max(1, -(-total // target_file_bytes))

        def _rewrite(df: DataFrame) -> DataFrame:
            df = df.repartition(n_out)
            present = [c for c in sort_cols if c in df.columns]
            return df.sortWithinPartitions(*present) if present else df

        return self.fold(_rewrite)

    # -- streaming bridge ---------------------------------------------------

    def sink(self):
        """foreachBatch function writing each micro-batch as one manifest
        commit: a replayed batch (crash after commit, before checkpoint)
        short-circuits on its recorded batch id, so admission is
        exactly-once with no overwrite semantics and no recovery scan.

            stream.writeStream.foreachBatch(store.sink())...
        """
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.append(batch_df, batch_id)
        return _sink

    # -- maintenance --------------------------------------------------------

    def gc(self, keep_versions: int = 1) -> int:
        """Delete data files referenced by NO kept manifest (the newest
        ``keep_versions`` manifests survive; older manifest json is
        dropped too).  Returns files deleted.  Never touches files the
        current manifest references, so it is safe to run at any time —
        a crash mid-gc just leaves some garbage for the next run."""
        cur = self.current_version()
        if cur is None:
            return 0
        kept = range(max(1, cur - keep_versions + 1), cur + 1)
        referenced: set[str] = set()
        for v in kept:
            # a version in the kept window may have been dropped by an
            # earlier gc with a smaller keep_versions — skip the gap
            if os.path.exists(os.path.join(self._mdir(), f"v{v}.json")):
                referenced |= set(self._read_manifest(v)["files"])
        deleted = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for d in os.listdir(data_root):
            droot = os.path.join(data_root, d)
            for root, _, names in os.walk(droot):
                for n in names:
                    rel = os.path.relpath(os.path.join(root, n), self.path)
                    if n.endswith(".parquet") and rel not in referenced:
                        os.unlink(os.path.join(root, n))
                        deleted += 1
            if not any(f.endswith(".parquet") for _, _, fs in os.walk(droot)
                       for f in fs):
                shutil.rmtree(droot)
        for f in os.listdir(self._mdir()):
            if f.startswith(".tmp-"):
                os.unlink(os.path.join(self._mdir(), f))
            elif (f.startswith("v") and f.endswith(".json")
                  and f[1:-5].isdigit() and int(f[1:-5]) not in kept):
                os.unlink(os.path.join(self._mdir(), f))
        return deleted

