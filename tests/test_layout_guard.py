"""One store layout: every chain store commits through ManifestStore.

The package once carried two more layouts: a ``batch_id=N`` directory
store with its own writer, layout-detecting readers and a
``store_impl`` switch, and a plain ``chain=``-partitioned store
(``OpsStore.write``) whose TTL delete ran a rename protocol of its own
(``retention.py``: renameat2 exchange, ``_swap_in``, crash recovery),
plus a metastore-bucketed ``write_bucketed`` table.  These guards keep
them from creeping back: outside ``streaming/screen.py`` (whose
``out_dir`` is not a chain sink) no module may mention them.  The check
is textual, so pass a batch id to ``ManifestStore.append``
positionally; ``chain=`` keyword arguments are fine, a quoted
``chain=`` path literal is not.

Inside ``manifest.py`` every Spark read goes through the one read helper
``ManifestStore._read``, which hands Spark the schema each version
records — a read that skipped it would run the schema-inference job
again."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "meeseeker_spark"
EXEMPT = {PKG / "streaming" / "screen.py"}


def _offenders(tokens: tuple[str, ...]) -> list[str]:
    return [
        f"{path.relative_to(PKG.parent)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py")) if path not in EXEMPT
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


def test_manifest_reads_only_through_read_helper():
    tree = ast.parse((PKG / "manifest.py").read_text())
    helper = next(n for n in ast.walk(tree)
                  if isinstance(n, ast.FunctionDef) and n.name == "_read")
    inside = {id(n) for n in ast.walk(helper)}
    offenders = [n.lineno for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute) and n.attr == "read"
                 and id(n) not in inside]
    assert not offenders, f"manifest.py reads outside _read: {offenders}"
