"""One store layout: every chain sink commits through ManifestStore.

The package once carried a second, ``batch_id=N`` directory layout with
its own writer, layout-detecting readers and a ``store_impl`` switch.
This guard keeps it from creeping back: outside ``streaming/screen.py``
(whose ``out_dir`` is not a chain sink) no module may mention
``batch_id=`` or ``store_impl``.  The check is textual, so pass a batch
id to ``ManifestStore.append`` positionally."""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "meeseeker_spark"
EXEMPT = {PKG / "streaming" / "screen.py"}


def test_no_batch_dir_layout_outside_screen():
    offenders = [
        f"{path.relative_to(PKG.parent)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py")) if path not in EXEMPT
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "batch_id=" in line or "store_impl" in line
    ]
    assert not offenders, "\n".join(offenders)
