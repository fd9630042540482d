"""One store layout: every chain store commits through ManifestStore.

The package once carried two more layouts: a ``batch_id=N`` directory
store with its own writer, layout-detecting readers and a
``store_impl`` switch, and a plain ``chain=``-partitioned store
(``OpsStore.write``) whose TTL delete ran a rename protocol of its own
(``retention.py``: renameat2 exchange, ``_swap_in``, crash recovery),
plus a metastore-bucketed ``write_bucketed`` table; the irreversible
mode's ``_pending`` set was a plain parquet dir swapped in by renames,
with a ``_produced_by_batch`` stamp file and ``_recover_pending`` to
finish an interrupted swap.  Every store now commits through the
manifest's ``os.link``.  These guards keep them from creeping back: outside ``streaming/screen.py`` (whose
``out_dir`` is not a chain sink) no module may mention them.  The dedup
screen's band index once had a second, metastore-bucketed table
layout; no module at all, the screen included, may write a metastore
table.  The check is textual, so pass a batch id to ``ManifestStore.append``
positionally; ``chain=`` keyword arguments are fine, a quoted
``chain=`` path literal is not.

Inside ``manifest.py`` every data read goes through the one read helper
``ManifestStore._read``: the Spark read, which hands Spark the schema
each version records (a read that skipped it would run the
schema-inference job again), and the driver-side Arrow read of a
block-bound lookup, which casts timestamps to UTC instants (a read that
skipped it would shift them by the session timezone).  Those rows
reach Spark only in ``ManifestStore.find``, the one ``createDataFrame``
in the module, which first drops the scan's empty record batches
(PySpark loses a non-empty batch that follows an empty one).  ``query.py``
reads no parquet itself: every consumer request goes through
``ManifestStore``."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "meeseeker_spark"
EXEMPT = {PKG / "streaming" / "screen.py"}


def _offenders(tokens: tuple[str, ...], exempt=EXEMPT) -> list[str]:
    return [
        f"{path.relative_to(PKG.parent)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py")) if path not in exempt
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(t in line for t in tokens)
    ]


def test_no_batch_dir_layout_outside_screen():
    offenders = _offenders(("batch_id=", "store_impl"))
    assert not offenders, "\n".join(offenders)


def test_no_chain_partition_store_outside_screen():
    assert not (PKG / "retention.py").exists()
    offenders = _offenders(('partitionBy("chain")', "renameat2", "_swap_in",
                            "write_bucketed", '"chain=', "'chain="))
    assert not offenders, "\n".join(offenders)


def test_no_metastore_table_anywhere():
    offenders = _offenders(("bucketBy(", "saveAsTable("), exempt=set())
    assert not offenders, "\n".join(offenders)


def test_no_rename_commit_outside_screen():
    offenders = _offenders(("os.rename", "os.replace", "_produced_by_batch",
                            "_recover_pending"))
    assert not offenders, "\n".join(offenders)


# spark.read, pyarrow.dataset.dataset, pyarrow.parquet.read_table
_DATA_READS = ("read", "dataset", "read_table")


def test_manifest_reads_only_through_read_helper():
    tree = ast.parse((PKG / "manifest.py").read_text())
    helper = next(n for n in ast.walk(tree)
                  if isinstance(n, ast.FunctionDef) and n.name == "_read")
    inside = {id(n) for n in ast.walk(helper)}
    offenders = [n.lineno for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute) and n.attr in _DATA_READS
                 and id(n) not in inside]
    assert not offenders, f"manifest.py reads outside _read: {offenders}"
    find = next(n for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and n.name == "find")
    inside = {id(n) for n in ast.walk(find)}
    offenders = [n.lineno for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute)
                 and n.attr == "createDataFrame" and id(n) not in inside]
    assert not offenders, \
        f"manifest.py hands Arrow rows to Spark outside find: {offenders}"
    tree = ast.parse((PKG / "query.py").read_text())
    offenders = [n.lineno for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute)
                 and n.attr in _DATA_READS + ("parquet",)
                 or isinstance(n, ast.Import) and any(
                     a.name.startswith("pyarrow") for a in n.names)
                 or isinstance(n, ast.ImportFrom)
                 and (n.module or "").startswith("pyarrow")]
    assert not offenders, f"query.py reads parquet itself: {offenders}"
