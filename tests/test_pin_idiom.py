"""One owner per idiom: each call below may appear in the package only
inside the module that owns it (or nowhere, for an owner of ``None``).

- materialization: only ``pin`` calls ``cache``, ``persist``,
  ``unpersist`` or ``localCheckpoint``;
- bounded streams: only ``streaming/bounded`` starts, drains, captures
  and stops a stream, names a memory sink or scopes shuffle partitions;
- temp views: only ``io.register_views`` registers one;
- scratch: a query scopes its own in ``tempfile.TemporaryDirectory``,
  so only ``sources/lake`` (``Catalog.vacuum``) deletes a tree, only
  ``operators/bucketing`` writes a catalog table, nothing reads the
  warehouse dir, derives a path from ``__file__`` or calls ``mkdtemp``;
- lake commits: only ``sources/lake`` writes a table version, so every
  version is staged through ``Transaction.stage`` and committed in the
  catalog log.
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
    "rmtree": (
        "sources/lake.py",
        r"\bshutil\.rmtree\(",
        "scope scratch in tempfile.TemporaryDirectory instead of deleting it",
    ),
    "catalog_table": (
        "operators/bucketing.py",
        r"\.saveAsTable\(|spark\.sql\.warehouse\.dir",
        "write catalog tables through operators.bucketing.write_bucketed at a"
        " scratch path; never touch the warehouse dir",
    ),
    "lake_commit": (
        "sources/lake.py",
        r"\bwrite_version\(",
        "stage table versions through sources.lake.Transaction.stage",
    ),
    "scratch_root": (
        None,
        r"__file__|\bmkdtemp\(",
        "scope scratch in tempfile.TemporaryDirectory, not under the package",
    ),
}


@pytest.mark.parametrize("rule", sorted(_RULES))
def test_one_owner_per_idiom(rule):
    owner, pattern, advice = _RULES[rule]
    call = re.compile(pattern)
    offenders = [
        f"{path.relative_to(_PKG.parent)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if path.relative_to(_PKG).as_posix() != owner
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert not offenders, f"{advice}:\n" + "\n".join(offenders)
