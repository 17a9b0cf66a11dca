"""Change-data capture: diff two table snapshots into an insert /
delete / update feed.

The reference's pipeline re-scans its queue tables to find work
(status columns mutated in place, `src/runner/locator.ts:166-178`); at
warehouse scale the equivalent is diffing consecutive snapshot versions
of a table (the lake keeps them — sources/lake.py) and feeding only the
delta downstream.

Scale posture: both sides project to ``(key, md5-of-compared-columns)``
BEFORE the join — the shuffle carries fixed-width rows regardless of
table width — and unchanged keys (the overwhelming majority of a
snapshot pair) are dropped by a hash inequality inside the join, never
materialized.  One equi-shuffle on the key; no window, no collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Field separator / null sentinel for the row hash: control chars that
# cannot appear in the data columns being compared.
_SEP = "\x01"
_NULL = "\x00"


def row_hash(cols: list[str]) -> Column:
    """md5 over the compared columns, null-safe and unambiguous (fields
    separated by \\x01, NULL encoded as \\x00).  Engine-portable: the
    same expression is expressible in ANSI SQL for the oracle."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols
    ]
    return F.md5(F.concat_ws(_SEP, *parts))


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC feed between two snapshots: one row per changed key with
    ``change`` ∈ {'insert', 'delete', 'update'}.  Unchanged keys are
    filtered out before materialization.

    ``compare_cols`` defaults to every shared non-key column.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    o = old.select(*keys, row_hash(compare_cols).alias("_h_old"))
    n = new.select(*keys, row_hash(compare_cols).alias("_h_new"))
    j = o.join(n, keys, "full_outer")
    return (
        j.select(
            *keys,
            F.when(F.col("_h_old").isNull(), F.lit("insert"))
            .when(F.col("_h_new").isNull(), F.lit("delete"))
            .when(F.col("_h_old") != F.col("_h_new"), F.lit("update"))
            .alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )
