"""One materialization idiom: only the ``pin`` module may call Spark's
``cache``, ``persist``, ``unpersist`` or ``localCheckpoint``."""

from __future__ import annotations

import re
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent / "lawfirm_data_pipeline_spark"
_CALL = re.compile(r"\.(cache|persist|unpersist|localCheckpoint)\(")


def test_only_pin_materializes():
    offenders = [
        f"{path.relative_to(_PKG.parent)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if path != _PKG / "pin.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _CALL.search(line)
    ]
    assert not offenders, "materialize through pin.pin():\n" + "\n".join(offenders)
