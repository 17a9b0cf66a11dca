"""One owner per idiom: each Spark call below may appear in the package
only inside the module that owns it.

- materialization: only ``pin`` calls ``cache``, ``persist``,
  ``unpersist`` or ``localCheckpoint``;
- bounded streams: only ``streaming/bounded`` starts, drains, captures
  and stops a stream, names a memory sink or scopes shuffle partitions;
- temp views: only ``io.register_views`` registers one.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

_PKG = Path(__file__).resolve().parent.parent / "lawfirm_data_pipeline_spark"

_RULES = {
    "pin": (
        "pin.py",
        r"\.(cache|persist|unpersist|localCheckpoint)\(",
        "materialize through pin.pin()",
    ),
    "bounded_stream": (
        "streaming/bounded.py",
        r"\.(processAllAvailable|awaitTermination|trigger|queryName)\("
        r'|\.format\("memory"\)'
        r"|(?<!def )\bcapture\("
        r'|conf\.set\(\s*"spark\.sql\.shuffle\.partitions"',
        "drive streams through streaming.bounded.drain()",
    ),
    "temp_view": (
        "io.py",
        r"\.createOrReplaceTempView\(",
        "pass DataFrames to spark.sql(..., name=df) instead of registering a view",
    ),
}


@pytest.mark.parametrize("rule", sorted(_RULES))
def test_one_owner_per_idiom(rule):
    owner, pattern, advice = _RULES[rule]
    call = re.compile(pattern)
    offenders = [
        f"{path.relative_to(_PKG.parent)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if path != _PKG / owner
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert not offenders, f"{advice}:\n" + "\n".join(offenders)
