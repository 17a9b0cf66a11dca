"""Incremental view maintenance: keep a grouped aggregate current by
applying a CDC delta instead of recomputing from scratch.

At 100 TB the difference between "re-aggregate the table nightly" and
"apply yesterday's delta" is the whole batch window.  Grouped SUM/COUNT
views are self-maintainable [Gupta & Mumick, "Maintenance of
Materialized Views"]: for every changed key, subtract the old row's
contribution and add the new row's — group moves (a row whose group
column changed) fall out naturally as (-1 old group, +1 new group).

Scale posture: the changed-key set comes from `cdc.table_diff` (a
fixed-width (key, md5) shuffle); old/new contributions are LEFT SEMI
joins against that set, so the unchanged bulk of both snapshots is
never re-aggregated — work is O(|delta|) plus the view's own size.
Contributions are exact integers (counts and cents), so the maintained
view is bit-identical to a from-scratch aggregation — which is exactly
what the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from .cdc import table_diff


def maintain_group_totals(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    group_col: str,
    cents_col: Column,
) -> DataFrame:
    """Maintained view ``group_col -> (n_rows, sum_cents)`` equal to
    aggregating ``new`` directly, computed as agg(old) + delta.

    ``cents_col`` must be an exact-integer measure expression (the
    repo-wide exact-cents discipline — float sums would make the
    maintained and recomputed views drift by summation order).
    """
    # the changed-key set is delta-sized by IVM's own premise and is
    # consumed by both the retract and apply semi-joins — unpinned, the
    # full old-vs-new diff join ran once per consumer (round-6 census)
    changed = pin(table_diff(old, new, keys).select(*keys))
    base = old.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("dn"),
        F.sum(cents_col).cast("long").alias("dc"),
    )
    retract = old.join(changed, keys, "left_semi").select(
        F.col(group_col),
        F.lit(-1).cast("long").alias("dn"),
        (-cents_col).cast("long").alias("dc"),
    )
    apply_ = new.join(changed, keys, "left_semi").select(
        F.col(group_col),
        F.lit(1).cast("long").alias("dn"),
        cents_col.cast("long").alias("dc"),
    )
    return (
        base.unionByName(retract)
        .unionByName(apply_)
        .groupBy(group_col)
        .agg(
            F.sum("dn").cast("long").alias("n_rows"),
            F.sum("dc").cast("long").alias("sum_cents"),
        )
        .filter(F.col("n_rows") > 0)
    )


def maintain_join_totals(
    view_old: DataFrame,
    a_old: DataFrame,
    a_ins: DataFrame,
    b_old: DataFrame,
    b_ins: DataFrame,
    on: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Maintain a SUM/COUNT view over ``A ⋈ B`` under INSERTS to both
    sides with the classic three delta terms [Gupta & Mumick]:

        Δview = agg(ΔA ⋈ B_old) + agg(A_old ⋈ ΔB) + agg(ΔA ⋈ ΔB)

    ``view_old`` is the materialized (group, n_rows, total) view of
    A_old ⋈ B_old; the full old join is NEVER recomputed — each delta
    term joins a delta against a stable snapshot (or delta×delta), so
    work is O(|Δ| · fanout) plus the view size.  Contributions are
    exact integers, so the maintained view is bit-identical to a
    from-scratch aggregation over (A_old ∪ ΔA) ⋈ (B_old ∪ ΔB) — which
    is exactly what the oracle recomputes.
    """

    def agg(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, on)
            .groupBy(group_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(value_col).cast("long").alias("total"),
            )
        )

    terms = (
        view_old.select(group_col, "n_rows", "total")
        .unionByName(agg(a_ins, b_old))
        .unionByName(agg(a_old, b_ins))
        .unionByName(agg(a_ins, b_ins))
    )
    return terms.groupBy(group_col).agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("total").cast("long").alias("total"),
    )
