"""Seeded benchmark inputs, cached on disk by (kind, seed, size).

Every input is a pure function of the seed and the size: the chain comes
from ``meeseeker_spark.fixtures.generate`` (with its pure-Python golden
expectations), the documents from the repository's seeded generator of
the catalog ``documents`` table's class, and the dedup-screen answer
from the catalog's DuckDB ``screen_replay`` oracle.  The program under
test only ever sees the parquet files written here.

Generation is benchmark work, not program work, so its cache-miss time
is returned separately (``gen_s``) and never counted in ``setup_s``.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Cache entries kept per kind; older ones are deleted so a long series of
# seeds cannot fill the disk.
_KEEP_ENTRIES = 32

# catalog screen_replay: every doc_id % 21 == 0 doc re-arrives twice in
# the last batch under these id offsets
REPOST_OFFSETS = (10_000_000, 20_000_000)
SCREEN_BATCHES = 3
# channel kinds op_channels derives (block/transaction notifications are
# separate publishers the ingest sink does not run)
OP_CHANNEL_KINDS = ("op", "custom_id")


def _cached(root: str, name: str, build) -> tuple[str, float]:
    """Return (dir, gen_s): ``dir`` holds ``build(tmp_dir)``'s output.
    ``gen_s`` is 0.0 on a cache hit.  The entry appears atomically (built
    in a temp dir, then renamed), so a killed run leaves no half entry."""
    final = os.path.join(root, name)
    if os.path.isdir(final):
        os.utime(final)
        return final, 0.0
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".tmp-{uuid.uuid4().hex}")
    t0 = time.perf_counter()
    build(tmp)
    gen_s = time.perf_counter() - t0
    try:
        os.rename(tmp, final)
    except OSError:          # another run built it first
        shutil.rmtree(tmp, ignore_errors=True)
    _prune(root, name.split("-", 1)[0])
    return final, gen_s


def _prune(root: str, kind: str) -> None:
    entries = [os.path.join(root, d) for d in os.listdir(root)
               if d.startswith(kind + "-")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[_KEEP_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)


def _write_files(parts: list[list[dict]], schema: str, out_dir: str) -> None:
    """Write one parquet file per part.  File mtimes are pinned in part
    order, because the file source consumes the oldest file first."""
    from meeseeker_spark.fixtures import _ARROW_SCHEMAS
    os.makedirs(out_dir)
    for i, rows in enumerate(parts):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows,
                                            schema=_ARROW_SCHEMAS[schema]),
                       path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


# ---------------------------------------------------------------------------
# chain: blocks + virtual ops, landed as files, with golden expectations
# ---------------------------------------------------------------------------

class Chain:
    """A landed chain: ``blocks_dir``/``vops_dir`` hold ``n_files`` files
    each (file i of both covers the same block range), plus the golden
    op rows and channel-row multiset from ``fixtures``."""

    def __init__(self, path: str):
        self.path = path
        self.blocks_dir = os.path.join(path, "blocks")
        self.vops_dir = os.path.join(path, "vops")
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        self.n_blocks = meta["n_blocks"]
        self.first_block = meta["first_block"]
        self.last_block = meta["last_block"]
        self.channels = collections.Counter(
            {tuple(k.split("\t")): v for k, v in meta["channels"].items()})
        self._ops = None

    @property
    def ops(self) -> list[dict]:
        """Golden op rows: key, block_num, trx_id, op_type, value."""
        if self._ops is None:
            self._ops = pq.read_table(
                os.path.join(self.path, "golden_ops.parquet")).to_pylist()
        return self._ops

    @property
    def n_ops(self) -> int:
        return pq.ParquetFile(
            os.path.join(self.path, "golden_ops.parquet")).metadata.num_rows


def chain(root: str, seed: int, n_blocks: int,
          n_files: int) -> tuple[Chain, float]:
    def build(out: str) -> None:
        from meeseeker_spark import fixtures
        fx = fixtures.generate(n_blocks=n_blocks, seed=seed)
        os.makedirs(out)
        # file i holds block range i and those blocks' virtual ops
        per_file = -(-n_blocks // n_files)
        first = fx.blocks[0]["block_num"]
        blocks: list[list[dict]] = [[] for _ in range(n_files)]
        vops: list[list[dict]] = [[] for _ in range(n_files)]
        for blk in fx.blocks:
            blocks[(blk["block_num"] - first) // per_file].append(blk)
        for v in fx.virtual_ops:
            vops[(v["block"] - first) // per_file].append(v)
        _write_files(blocks, "blocks", os.path.join(out, "blocks"))
        _write_files(vops, "virtual_ops", os.path.join(out, "vops"))
        cols = ("key", "block_num", "trx_id", "op_type", "value")
        pq.write_table(pa.table({c: [o[c] for o in fx.ops_expected]
                                 for c in cols}),
                       os.path.join(out, "golden_ops.parquet"))
        channels = collections.Counter(
            f"{c['channel']}\t{c['kind']}" for c in fx.channels_expected
            if c["kind"] in OP_CHANNEL_KINDS)
        with open(os.path.join(out, "meta.json"), "w") as f:
            json.dump({"n_blocks": n_blocks,
                       "first_block": first,
                       "last_block": fx.blocks[-1]["block_num"],
                       "channels": channels}, f)

    path, gen_s = _cached(root, f"chain-s{seed}-n{n_blocks}-f{n_files}",
                          build)
    return Chain(path), gen_s


# ---------------------------------------------------------------------------
# documents for the dedup screen, with the DuckDB oracle's decisions
# ---------------------------------------------------------------------------

def gen_documents(n: int, seed: int) -> pa.Table:
    """``n`` documents of the catalog ``documents`` table's generative
    class (tools/make_organic_sf.py: planted near and exact duplicates)."""
    from tools.make_organic_sf import gen_documents as organic
    return pa.table(organic(n, np.random.default_rng(seed)))


def screen_batches(docs: pa.Table) -> list[list[dict]]:
    """The catalog's ``screen_replay`` arrival order: batch = doc_id % 3,
    plus two verbatim re-posts of every doc_id % 21 == 0 doc in the last
    batch."""
    rows = docs.to_pylist()
    batches = [[r for r in rows if r["doc_id"] % SCREEN_BATCHES == b]
               for b in range(SCREEN_BATCHES)]
    batches[-1] += [dict(r, doc_id=r["doc_id"] + off)
                    for off in REPOST_OFFSETS
                    for r in rows if r["doc_id"] % 21 == 0]
    return batches


class Docs:
    """Landed screen input: ``incoming_dir`` holds one file per trigger;
    ``admitted``/``flagged`` are the oracle's decision sets."""

    def __init__(self, path: str):
        self.path = path
        self.incoming_dir = os.path.join(path, "incoming")
        with open(os.path.join(path, "oracle.json")) as f:
            o = json.load(f)
        self.batch_sizes = o["batch_sizes"]
        self.admitted = {tuple(r) for r in o["admitted"]}
        self.flagged = collections.Counter(tuple(r) for r in o["flagged"])

    @property
    def n_docs(self) -> int:
        return sum(self.batch_sizes)


def oracle_decisions(docs_parquet: str) -> tuple[set, collections.Counter]:
    """The catalog's DuckDB ``screen_replay`` oracle over a documents
    file: admitted {(batch_id, doc_id)} and flagged
    multiset {(batch_id, doc_id, corpus_id)}."""
    import duckdb

    from meeseeker_spark import catalog
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_parquet}')")
        rows = con.execute(catalog.oracle_sql()["screen_replay"]).fetchall()
    finally:
        con.close()
    admitted = {(b, d) for b, d, _, s in rows if s == "admitted"}
    flagged = collections.Counter(
        (b, d, c) for b, d, c, s in rows if s != "admitted")
    return admitted, flagged


def documents(root: str, seed: int, n_docs: int) -> tuple[Docs, float]:
    def build(out: str) -> None:
        docs = gen_documents(n_docs, seed)
        os.makedirs(os.path.join(out, "incoming"))
        src = os.path.join(out, "documents.parquet")
        pq.write_table(docs, src)
        batches = screen_batches(docs)
        for b, rows in enumerate(batches):
            path = os.path.join(out, "incoming", f"b{b}.parquet")
            pq.write_table(pa.Table.from_pylist(rows, schema=docs.schema),
                           path)
            os.utime(path, (1_700_000_000 + 10 * b,) * 2)
        admitted, flagged = oracle_decisions(src)
        with open(os.path.join(out, "oracle.json"), "w") as f:
            json.dump({"batch_sizes": [len(b) for b in batches],
                       "admitted": sorted(admitted),
                       "flagged": sorted(flagged.elements())}, f)

    path, gen_s = _cached(root, f"docs-s{seed}-n{n_docs}", build)
    return Docs(path), gen_s
