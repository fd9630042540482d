"""Manifest-committed parquet store — the Delta-equivalent commit protocol
(VERDICT r3 item 7; SURVEY §4 O-3 upgrade path).

Without Delta/Iceberg, this module is the ONE commit protocol every
per-trigger streaming sink writes through (ops, channels, ``_meta``, the
irreversible mode's ``_pending`` set, the witness-schedule publish log).
It rests on the one primitive a transactional table actually needs:
**readers only see files listed in the newest committed manifest, and a
manifest commit is a single atomic link**.

Layout:

    <path>/data/commit-<token>/part-*.parquet     immutable data files
    <path>/_manifest/v{N}.json                    committed versions

Each ``v{N}.json`` holds ``files`` (the table, relative to ``<path>``),
``batch_ids`` (the replay short-circuit) and ``schema`` (the table's
``StructType`` as JSON); an ``overwrite`` given a ``stream_id`` also
records it (the ``_pending`` set's producing stream, read back with
``recorded_stream_id``).  The schema is taken from the staged frame at
commit time — ``overwrite`` records its frame's, ``append``, ``expire``
and ``fold`` carry the recorded one forward — so a read hands it to
``spark.read.schema(...)`` and never runs Spark's footer-inference job.
An ``append`` (or ``fold``) whose columns differ from the recorded
schema by name or type raises ValueError before anything is staged;
nullability and column order are ignored, as Spark reads every file
column nullable and by name.  A version with no ``schema`` key (written
before schemas were recorded) reads through inference and gets one on
its next commit.

``file_stats`` maps each data file to its ``block_num`` and ``chain``
``[min, max]`` (``{<relpath>: {"block_num": [lo, hi], "chain": [lo,
hi]}}``; a null range: no non-null value), read from the staged file's
footer when every row group carries statistics for both.  ``files``
stays a sorted list of strings.  ``append`` and ``expire`` carry
forward the ranges of every file they re-reference; ``overwrite``,
``fold`` and ``compact`` record ranges for the files they stage.  A
file with no ranges — one written before ranges were recorded, or
without those columns or statistics — is never pruned; the next
``compact`` records ranges for the files it rewrites.

A read with equality bindings (``find`` / ``exists``: every consumer
request — GET, ``find block``, ``find trx``, ``has block`` and every
SCAN, with the columns its glob binds) prunes to the candidate files,
those whose ranges can hold the bindings (every file of the chain for a
``trx_id`` or ``op_type``, which have no range), and reads them with
pyarrow on the driver — no Spark job; with no candidate, no I/O at all
— as long as they total at most ``_FILE_BYTES`` (128 MiB, the one-file
size ``compact`` also writes) and the matching rows stay at most
``_ROWS``.  When the candidates' footers hold more than ``_ROWS`` rows,
the driver first counts the matches on the bound columns alone, batch
by batch, and stops at the batch that passes ``_ROWS``; only a count
within the bound is read again with every column, so a read handed to
Spark never decodes the fat ``value`` column on the driver.  ``exists``
reads the bound columns up to the first match.  Past either bound, or
with a candidate lacking ranges, or for a version without a schema,
Spark reads just the candidate files, filtered.  The
rule lives in the one read helper, ``_read``, which keeps only non-empty
record batches (PySpark's ``createDataFrame`` loses a non-empty batch
that follows an empty one); ``find`` is the one place driver rows
become a DataFrame.

Protocol:

- WRITE: stage a new commit dir — a Spark write of a DataFrame, or a
  driver-side ``pq.write_table`` of Arrow rows (the one-row ``_meta``
  HWM, too small to be worth a Spark job) — list its part files, then
  commit manifest vN+1 = previous files ± changes via write-tmp + atomic
  ``os.link``.  ``append_all`` stages several stores' appends
  concurrently and commits them in the order given, only once every
  stage succeeded; ``ManifestStore.append`` is its one-store case.  A
  crash before the link leaves an orphan data dir that no reader ever
  sees (Spark is never pointed at ``data/`` itself); re-run and
  ``gc()`` clean it.  No ``.old`` roll-back/forward cases remain — the
  store is ALWAYS in exactly the state of its newest manifest.
- IDEMPOTENT APPEND: ``append(df, batch_id)`` records the batch id in the
  manifest; a retried foreachBatch sees its id committed and becomes a
  no-op (exactly-once without overwrite semantics).
- TTL EXPIRE: rewrite ONLY the files that contain expired rows (file set
  found via ``input_file_name``); every untouched file is re-referenced,
  not rewritten — byte-identical, under the one cutoff rule ``_live``.
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
import functools
import json
import operator
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence, Union

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"

# What one append stages, and what a bound read returns: a DataFrame (a
# Spark job) or Arrow rows (written or read on the driver, no job)
Rows = Union[DataFrame, pa.Table]

# the columns whose per-file [min, max] a commit records (file_stats)
_RANGED = ("block_num", "chain")

# one compacted file: what ``compact`` sizes its output files to, and
# the most a bound read takes on the driver (``_read``)
_FILE_BYTES = 128 * 1024 * 1024

# the most rows a bound read returns from the driver (``_read``): past
# it, handing the rows to the JVM (``createDataFrame``) costs more than
# a Spark job over the candidate files
_ROWS = 10_000


def _count(batches) -> int:
    """The rows of ``batches``, counted up to the first batch that takes
    them past ``_ROWS``; no later batch is pulled."""
    n = 0
    for b in batches:
        n += b.num_rows
        if n > _ROWS:
            break
    return n


def _version(name: str) -> int | None:
    """N for a committed version's file name ``v{N}.json``, else None."""
    if name.startswith("v") and name.endswith(".json") \
            and name[1:-5].isdigit():
        return int(name[1:-5])
    return None


def _versions(mdir: str) -> list[int]:
    """The committed versions in a ``_manifest`` dir, ascending."""
    return sorted(v for v in map(_version, os.listdir(mdir))
                  if v is not None)


def is_manifest_store(path: str) -> bool:
    """THE committed-version probe, so the marker dir name has one home.

    A path counts as a manifest store only once a version is COMMITTED
    (a ``v*.json`` exists), not when the marker dir appears (ADVICE r6):
    ManifestStore() eagerly creates ``_manifest/`` at construction, so a
    marker-dir probe would report a store whose first commit crashed
    (or has not landed yet) as readable."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    return os.path.isdir(mdir) and bool(_versions(mdir))


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


def require_committed(spark: SparkSession, path: str) -> ManifestStore:
    """The store at ``path``.  Raises FileNotFoundError until the first
    commit and ValueError for a path holding parquet but no committed
    manifest (``open_committed``)."""
    ms = open_committed(spark, path)
    if ms is None:
        raise FileNotFoundError(f"{path} has no committed manifest version")
    return ms


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


def _schema_to_record(m: dict, schema: T.StructType) -> dict:
    """The schema a commit of rows of ``schema`` into manifest ``m``
    records: the recorded one, after checking ``schema`` has its columns
    by name and type (ValueError naming the differing columns
    otherwise), or ``schema`` itself when ``m`` records none."""
    if "schema" not in m:
        return schema.jsonValue()
    want = {f.name: _relaxed(f.dataType)
            for f in T.StructType.fromJson(m["schema"]).fields}
    got = {f.name: _relaxed(f.dataType) for f in schema.fields}
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


def _footer_ranges(path: str) -> dict | None:
    """``{col: [lo, hi]}`` for the ``_RANGED`` columns of the parquet
    file at ``path``, from its footer's row-group statistics; ``None``
    for a column with no non-null value (a file of no rows, say).  None
    when the file lacks one of the columns or a row group lacks its
    statistics (or has ones JSON cannot hold): such a file can never be
    pruned."""
    md = pq.read_metadata(path)
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    if not all(c in idx for c in _RANGED):
        return None
    out: dict = {c: None for c in _RANGED}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in _RANGED:
            st = rg.column(idx[c]).statistics
            if st is not None and st.has_min_max \
                    and isinstance(st.min, (int, str)):
                lo, hi = out[c] or (st.min, st.max)
                out[c] = [min(lo, st.min), max(hi, st.max)]
            elif not (st is not None and st.has_null_count
                      and st.null_count == rg.num_rows):
                return None
    return out


def _can_hold(ranges: dict, where: dict) -> bool:
    """Whether a file with recorded ``ranges`` can hold a row equal to
    every binding in ``where``.  A None value equals no row (SQL's
    ``= NULL``); a None range holds no non-null value."""
    for c, v in where.items():
        if c in ranges:
            r = ranges[c]
            if v is None or r is None or not r[0] <= v <= r[1]:
                return False
    return True


def _concurrently(spark: SparkSession, fns: Sequence[Callable]) -> list:
    """Run ``fns[0]`` on the calling thread and each other fn on a
    thread of its own; return their results in order once ALL have
    finished, re-raising the first failure.  Each thread starts with
    the caller's Spark local properties, so a foreachBatch thread's job
    group (what ``StreamingQuery.stop()`` cancels by) and
    ``sql.streaming.queryId`` reach every job it launches."""
    if len(fns) == 1:
        return [fns[0]()]
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(fns) - 1) as pool:
        futures = [pool.submit(inherit(fn)) for fn in fns[1:]]
        first = fns[0]()
    return [first] + [f.result() for f in futures]


def append_all(lanes: Sequence[Sequence[tuple[ManifestStore,
                                               Callable[[], Rows]]]],
               batch_id: int | None = None) -> list[bool]:
    """Append to several stores as one unit: read every store's
    manifest (a store already recording ``batch_id`` is skipped — the
    foreachBatch retry contract), stage each store's rows, then commit
    every staged store in the order given.  Stores in one lane stage in
    turn; lanes stage concurrently (``_concurrently``).  Nothing commits
    until every stage succeeded, so a failed stage re-raises with no
    new version anywhere — its staged dirs are orphans ``gc()``
    reclaims.  Returns, per store in commit order, whether it
    committed."""
    def stage(lane):
        out = []
        for store, rows_fn in lane:
            m = store._read_manifest()
            if batch_id is not None and batch_id in m["batch_ids"]:
                out.append(None)
                continue
            rows = rows_fn()
            schema = _schema_to_record(
                m, rows.schema if isinstance(rows, DataFrame)
                else from_arrow_schema(rows.schema))
            files = store._stage(rows)
            out.append((store, m, files, schema, store._ranges(files)))
        return out

    spark = lanes[0][0][0].spark
    staged = _concurrently(spark, [lambda lane=lane: stage(lane)
                                   for lane in lanes])
    done = []
    for item in (x for lane in staged for x in lane):
        if item is not None:
            store, m, files, schema, ranges = item
            ids = m["batch_ids"] + ([] if batch_id is None else [batch_id])
            store._commit(m["files"] + files, ids, m["version"], schema,
                          file_stats={**m.get("file_stats", {}), **ranges})
        done.append(item is not None)
    return done


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
        return max(self.versions(), default=None)

    def _read_manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v is None:
            return {"version": 0, "files": [], "batch_ids": []}
        with open(os.path.join(self._mdir(), f"v{v}.json")) as f:
            return json.load(f)

    def _commit(self, files: list[str], batch_ids: list[int],
                base_version: int, schema: dict | None = None,
                stream_id: str | None = None,
                file_stats: dict | None = None) -> int:
        """Atomically publish manifest v(base_version+1) — a COMPARE-AND-
        SWAP against the version the caller READ, not whatever is newest
        at link time.  Every write path is read-manifest → long Spark
        stage → commit; recomputing prev at the commit point would let a
        writer that interleaved with another's commit link v(N+2) built
        from the v(N) file list, silently dropping the other commit
        (ADVICE r12).  Pinning new_v to base+1 means ANY intervening
        commit collides on the link and raises instead of winning.
        ``file_stats`` may hold ranges of files outside ``files``; only
        the committed files' are recorded."""
        new_v = base_version + 1
        m = {"version": new_v, "files": sorted(files),
             "batch_ids": sorted(set(batch_ids))}
        if schema is not None:
            m["schema"] = schema
        stats = {f: file_stats[f] for f in m["files"]
                 if f in (file_stats or {})}
        if stats:
            m["file_stats"] = stats
        if stream_id is not None:
            m["stream_id"] = stream_id
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

    def _stage(self, rows: Rows) -> list[str]:
        """Write ``rows`` to a fresh immutable commit dir — a DataFrame
        through Spark, Arrow rows as one file from the driver; return
        its part files (relative to the store root).  Not yet visible
        to anyone."""
        token = uuid.uuid4().hex[:12]
        rel = os.path.join(_DATA_DIR, f"commit-{token}")
        if isinstance(rows, DataFrame):
            rows.write.mode("error").parquet(os.path.join(self.path, rel))
        else:
            os.makedirs(os.path.join(self.path, rel))
            pq.write_table(rows, os.path.join(
                self.path, rel, f"part-00000-{token}.parquet"))
        out = []
        for root, _, names in os.walk(os.path.join(self.path, rel)):
            for n in names:
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    out.append(os.path.relpath(os.path.join(root, n),
                                               self.path))
        return out

    def _ranges(self, files: list[str]) -> dict:
        """``file_stats`` entries for freshly staged ``files``: the
        footer ranges of each file that has them."""
        out = {}
        for f in files:
            r = _footer_ranges(os.path.join(self.path, f))
            if r is not None:
                out[f] = r
        return out

    # -- read side ----------------------------------------------------------

    def versions(self) -> list[int]:
        """Manifest versions still on disk, ascending."""
        return _versions(self._mdir())

    def files(self) -> list[str]:
        return list(self._read_manifest()["files"])

    def _read(self, m: dict, where: dict | None = None,
              columns: list[str] | None = None, first: bool = False) -> Rows:
        """THE read of manifest ``m``'s table, every column or just
        ``columns``.  A listed file that gc removed raises
        FileNotFoundError instead of reading as partial data.

        Without ``where``: a Spark read of every file — with the
        recorded schema no Spark job runs; a version that records none
        is inferred.  With equality bindings ``where`` (``{column:
        value}``; a None value equals no row; ``{}`` binds nothing): the
        matching rows of the candidate files, those whose recorded
        ranges can hold the bindings (a file without ranges is always
        one).  When the version records its schema, every candidate has
        ranges and the candidates total at most ``_FILE_BYTES``, the
        driver reads them with pyarrow (no candidate: an empty table, no
        I/O).  When their footers hold more than ``_ROWS`` rows, it
        first counts the matches, decoding only the bound columns and
        stopping at the batch that takes the count past ``_ROWS``.  At
        most ``_ROWS`` matches are read on the driver, their non-empty
        batches only, as Arrow rows with every timestamp cast to
        ``timestamp[us, tz=UTC]`` — a naive one would be taken as
        session-local time downstream.  Past ``_ROWS``, or when the
        driver cannot read the candidates, the answer is the Spark read
        of the candidate files, filtered; a read handed to Spark has
        decoded no unbound column on the driver.  With ``first`` (an
        existence probe) the driver reads the bound columns up to the
        first match, and that batch is the answer."""
        files, schema = m["files"], m.get("schema")
        stats = m.get("file_stats", {})
        if where is not None:
            files = [f for f in files
                     if f not in stats or _can_hold(stats[f], where)]
        size = self._bytes(files, m["version"])
        if where is not None and schema is not None \
                and all(f in stats for f in files) and size <= _FILE_BYTES:
            struct = T.StructType.fromJson(schema)
            target = pa.schema([f.with_nullable(True)
                                for f in to_arrow_schema(struct)
                                if columns is None or f.name in columns])
            match = functools.reduce(operator.and_, (
                pc.field(c) == v for c, v in where.items())) if where else None
            if not files:
                return target.empty_table()
            dataset = pads.dataset(
                [os.path.join(self.path, f) for f in files],
                format="parquet")
            if first:
                return next((pa.Table.from_batches([b])
                             for b in dataset.to_batches(
                                 columns=list(where), filter=match)
                             if b.num_rows), target.empty_table())
            # the footers' row counts cost no decoding; candidates holding
            # more rows than the bound have their matches counted first,
            # on the bound columns alone
            if sum(f.metadata.num_rows
                   for f in dataset.get_fragments()) <= _ROWS \
                    or _count(dataset.to_batches(
                        columns=list(where), filter=match)) <= _ROWS:
                return pa.Table.from_batches(
                    [b.cast(target) for b in dataset.to_batches(
                        columns=target.names, filter=match)
                     if b.num_rows], target)
        if not m["files"]:
            raise FileNotFoundError(
                f"manifest store {self.path} has no committed data")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(schema))
        # no candidate (only with no recorded schema): every file,
        # filtered to nothing, still gives the table's columns
        df = reader.parquet(*[os.path.join(self.path, f)
                              for f in files or m["files"]])
        for c, v in (where or {}).items():
            df = df.where(F.col(c) == v)
        return df if columns is None else df.select(*columns)

    def _bytes(self, files: list[str], version: int) -> int:
        """The total size of ``files``, which manifest ``version``
        lists, from one ``os.stat`` each; a missing file raises
        FileNotFoundError naming ``version``."""
        total, missing = 0, []
        for f in files:
            try:
                total += os.stat(os.path.join(self.path, f)).st_size
            except FileNotFoundError:
                missing.append(f)
        if missing:
            cur = self.current_version()
            cause = (f"v{cur} superseded it and gc removed them; re-read "
                     "the store" if cur != version else
                     "it is the current version, so they were deleted "
                     "outside the store")
            raise FileNotFoundError(
                f"manifest v{version} references {len(missing)} missing "
                f"file(s) (e.g. {missing[0]}): {cause}")
        return total

    def df(self) -> DataFrame:
        """The committed table."""
        return self._read(self._read_manifest())

    def find(self, where: dict) -> DataFrame:
        """The committed rows whose columns equal every value in
        ``where`` (``{column: value}``, e.g. ``block_num`` and
        ``chain``; ``{}``: every row).  While the candidate files fit
        one compacted file and the matches stay at most ``_ROWS``, they
        are read on the driver, every column, and handed to Spark as a
        local relation, so collecting the frame launches no job; past
        either bound the frame is the Spark read of the candidate files,
        whose columns a projection prunes (``_read``).  The driver rows
        hold no empty record batch: PySpark drops a non-empty batch
        that follows an empty one past the first."""
        m = self._read_manifest()
        rows = self._read(m, where)
        if isinstance(rows, DataFrame):
            return rows
        return self.spark.createDataFrame(
            rows, T.StructType.fromJson(m["schema"]))

    def exists(self, where: dict) -> bool:
        """Whether ``find(where)`` holds a row.  On the driver path the
        read ends at the first match, with no frame at all; only the
        bound columns are decoded."""
        rows = self._read(self._read_manifest(), where, columns=list(where),
                          first=True)
        if isinstance(rows, DataFrame):
            return not rows.isEmpty()
        return rows.num_rows > 0

    def committed_batch_ids(self) -> set[int]:
        return set(self._read_manifest()["batch_ids"])

    def recorded_stream_id(self) -> str | None:
        """The stream id the newest version's ``overwrite`` recorded."""
        return self._read_manifest().get("stream_id")

    # -- write side ---------------------------------------------------------

    def append(self, rows: Rows, batch_id: int | None = None) -> bool:
        """Append ``rows`` as a new commit — ``append_all`` on this one
        store.  With ``batch_id``, the append is IDEMPOTENT: a batch id
        already in the manifest is skipped (the foreachBatch retry
        contract), returning False.  ``rows`` must have the recorded
        schema's columns (ValueError otherwise)."""
        return append_all([[(self, lambda: rows)]], batch_id)[0]

    def overwrite(self, df: DataFrame, batch_id: int | None = None,
                  stream_id: str | None = None) -> None:
        """Replace the table with ``df``, recording ``df``'s schema and,
        when given, the producing ``batch_id`` and ``stream_id`` (the
        only ids the new version holds)."""
        base = self._read_manifest()["version"]
        staged = self._stage(df)
        self._commit(staged, [] if batch_id is None else [batch_id], base,
                     df.schema.jsonValue(), stream_id, self._ranges(staged))

    def expire(self, ttl_s: int, now: dt.datetime | None = None) -> int:
        """TTL retention as a manifest swap: only files CONTAINING expired
        rows are rewritten (live rows re-staged); every other file is
        re-referenced untouched.  Returns rows removed; ``ttl_s == -1``
        disables expiry (reference semantics: keys live forever).
        Crash-safe with no recovery protocol at all: before the commit
        link readers see the old manifest, after it the new one —
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
        kept_rows = self._read({**m, "files": sorted(hot)}).where(live)
        schema = _schema_to_record(m, kept_rows.schema)
        staged = self._stage(kept_rows)
        keep = [f for f in m["files"] if f not in hot]
        self._commit(keep + staged, m["batch_ids"], m["version"], schema,
                     file_stats={**m.get("file_stats", {}),
                                 **self._ranges(staged)})
        return n_removed

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
        schema = _schema_to_record(m, df.schema)
        staged = self._stage(df)
        ids = m["batch_ids"]
        if ids:
            ids = [i for i in ids if i >= max(ids) - 1]
        self._commit(staged, ids, m["version"], schema,
                     file_stats=self._ranges(staged))
        return len(m["files"])

    def compact(self, sort_cols: tuple[str, ...] = ()) -> int:
        """Fold the accumulated per-commit small files into one fresh
        commit (OPTIMIZE in Delta terms).  Output file count is sized
        from the store's actual bytes (``_FILE_BYTES`` per file, Delta's
        default bin size), so a thousand trigger-sized files
        fold to a handful.  Optional ``sort_cols`` cluster rows within
        the rewritten files so min/max row-group pruning stays sharp
        (columns absent from the schema are skipped).  Returns the
        number of files folded (0 = single file already).  Readers are
        never disturbed: the swap is one manifest commit (``fold``, which
        also prunes the batch ids), and the old files remain until
        ``gc()``."""
        m = self._read_manifest()
        total = self._bytes(m["files"], m["version"])
        n_out = max(1, -(-total // _FILE_BYTES))

        def _rewrite(df: DataFrame) -> DataFrame:
            df = df.repartition(n_out)
            present = [c for c in sort_cols if c in df.columns]
            return df.sortWithinPartitions(*present) if present else df

        return self.fold(_rewrite)

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
            elif (v := _version(f)) is not None and v not in kept:
                os.unlink(os.path.join(self._mdir(), f))
        return deleted

