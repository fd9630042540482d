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
in the module; ``_read`` keeps no empty record batch (PySpark loses a
non-empty batch that follows an empty one).  ``query.py`` reads no
parquet itself: every consumer request goes through ``ManifestStore``,
and whether the driver or Spark reads it is ``_read``'s call alone.

Every module of ``meeseeker_spark/`` (``streaming/`` and ``ext/``
included) is reached by the imports of a program entry point: the CLI
(``__main__.py``), the catalog behind ``bench.py``, ``bench.py`` and
``perfbench/*.py``.  So is every top-level function and class: a name
reached code uses — an ``ast`` name, an attribute, an imported name or
an identifier inside a string constant — reaches every top-level
definition of that name in a reached module, and a definition's body is
reached code once it is.  Module-level statements of reached modules are
reached code, and so is a definition decorated by a function of its own
module (the catalog's ``@register`` records it on import).  The match is
by name alone, so it can only miss an orphan, never flag a used
definition.  Code only tests use is a second implementation or a client
for a system the package never connects to; a reference a test compares
against lives in that test."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "meeseeker_spark"
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


# what a second routing rule in query.py would name: the driver read's
# bounds, the virtual ops' trx id, or a Spark filter of the whole table
_ROUTING = ("_FILE_BYTES", "_ROWS", "VIRTUAL_TRX_ID", ".df().where(")


def test_query_routes_only_through_read_helper():
    """Where an ops request is read — the driver or Spark — is decided
    only in ``ManifestStore._read``: outside ``ScheduleStore`` and
    ``UnifiedStore`` (the schedule log is not a manifest lookup),
    ``query.py`` names neither the read's bounds nor the virtual trx id
    and filters no whole-table frame."""
    text = (PKG / "query.py").read_text()
    exempt = {n for c in ast.walk(ast.parse(text))
              if isinstance(c, ast.ClassDef)
              and c.name in ("ScheduleStore", "UnifiedStore")
              for n in range(c.lineno, c.end_lineno + 1)}
    offenders = [f"query.py:{n}: {line.strip()}"
                 for n, line in enumerate(text.splitlines(), 1)
                 if n not in exempt and any(t in line for t in _ROUTING)]
    assert not offenders, "\n".join(offenders)


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _module_path(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported(path: Path) -> set[str]:
    """Every dotted name an ``import``/``from`` in ``path`` loads (a
    submodule's parent packages and a ``from`` target's submodules too),
    relative imports resolved."""
    name = _module_name(path)
    pkg = name if path.name == "__init__.py" else name.rpartition(".")[0]
    names: set[str] = set()
    for n in ast.walk(ast.parse(path.read_text())):
        if isinstance(n, ast.Import):
            names.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                head = pkg.split(".")[:len(pkg.split(".")) - n.level + 1]
                base = ".".join(head + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in n.names)
    return {".".join(d.split(".")[:i + 1])
            for d in names for i in range(d.count(".") + 1)}


def _reached_modules() -> set[Path]:
    """Every file the imports of the entry points load."""
    todo = [PKG / "__main__.py", PKG / "catalog.py", ROOT / "bench.py",
            *sorted((ROOT / "perfbench").glob("*.py"))]
    reached: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in reached:
            continue
        reached.add(path)
        todo.extend(p for p in map(_module_path, _imported(path))
                    if p is not None)
    return reached


def test_every_engine_module_is_reachable():
    reached = _reached_modules()
    orphans = sorted(_module_name(p) for p in PKG.rglob("*.py")
                     if p not in reached)
    assert not orphans, f"no entry point imports {orphans}"


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    """The names ``node`` uses: names, attributes, imported names and
    the identifiers inside string constants."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(p for a in n.names for p in a.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(re.findall(r"[A-Za-z_]\w*", n.value))
    return out


def _registered(node: ast.AST, local: set[str]) -> bool:
    """Whether a decorator of ``node`` is a function of its module."""
    for d in getattr(node, "decorator_list", ()):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id in local:
            return True
    return False


def test_every_engine_function_is_reachable():
    reached_modules = _reached_modules()
    defs: dict[tuple[Path, str], ast.AST] = {}
    used: set[str] = set()
    for path in reached_modules:
        body = ast.parse(path.read_text()).body
        local = {n.name for n in body if isinstance(n, _DEFS)}
        for node in body:
            if (isinstance(node, _DEFS) and PKG in path.parents
                    and not _registered(node, local)):
                defs[path, node.name] = node
            else:
                used |= _names(node)
    reached: set[tuple[Path, str]] = set()
    while new := [k for k in defs if k not in reached and k[1] in used]:
        for k in new:
            reached.add(k)
            used |= _names(defs[k])
    orphans = sorted(f"{_module_name(path)}.{name}"
                     for (path, name) in defs.keys() - reached)
    for path in sorted(PKG.rglob("*.py")):
        if path not in reached_modules:
            orphans += [f"{_module_name(path)}.{n.name}"
                        for n in ast.parse(path.read_text()).body
                        if isinstance(n, _DEFS)]
    assert not orphans, f"no entry point reaches {orphans}"
