"""Distributed global ordering primitives: rank / running sum over an
ARBITRARY sort key without a single-task window.

Spark executes ``Window.orderBy(...)`` with no ``partitionBy`` as ONE
partition — the whole input flows through a single task, which is the
canonical 100 TB scale-killer.  ``packing.exclusive_prefix_sum`` already
solves this for md5-uniform keys (the hex prefix is a free range
partition); this module generalizes to any total order via the textbook
two-phase scan:

1. ``repartitionByRange`` on the sort expressions (Spark samples range
   boundaries — works for ANY key distribution, skew handled by the
   sampler) and ``pin`` the result.  The pin is CORRECTNESS, not
   caching: the totals pass and the main pass must see the *same*
   sampled boundaries, and two re-executions of an unpinned range
   shuffle may sample differently.
2. per-partition totals (one tiny row per partition) → exclusive
   partition offsets via a window over the ≤P-row totals table;
3. per-partition local window (partitioned BY ``spark_partition_id`` —
   parallel) + broadcast-joined offset.

Cost at any scale: one range shuffle + one checkpoint write + a
broadcast of a P-row table.  Callers MUST pass a total order (include a
unique tiebreaker column): ties that straddle a sampled boundary would
otherwise make the rank depend on the boundary placement.

Reference parity: the reference (an Effect-TS/Prisma ETL) has no
ordering engine; this backs the charter training-data ops (sorted
batching q252, token-budget trim q268, balanced shards q249, ABC
classes q216) per SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pin import pin


def _default_partitions(df: DataFrame) -> int:
    """Range partitions for the two-phase scan: follow the session's
    ``spark.sql.shuffle.partitions`` (core count locally, raised with
    data volume on a cluster — the q142 sf3 measurement showed the
    fixed-32 local default becoming the bottleneck one decade up).
    Each partition's window state is only the projected sort/value
    columns, so the right number tracks the session's parallelism."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — conf value "auto" or absent
        return 32


# Internal scratch columns injected by the two-phase scan.  ``_rk_tot``
# never leaves the totals-side aggregate, but it is reserved anyway so a
# future refactor can't silently collide either.
_RESERVED = ("_rk_pid", "_rk_val", "_rk_off", "_rk_tot")


def _check_reserved(df: DataFrame) -> None:
    """r7-ADVICE guard: the scan drops its scratch columns on the way
    out, so a caller column with a reserved name would be silently
    overwritten and then dropped — wrong results with no error.  Fail
    loudly instead; collisions mean the caller is already using the
    module's namespace and must rename."""
    clash = [c for c in df.columns if c in _RESERVED]
    if clash:
        raise ValueError(
            f"input columns collide with ranking scratch names {clash}; "
            "rename them before calling (reserved: " + ", ".join(_RESERVED) + ")"
        )


def global_running_sum(
    df: DataFrame,
    value_col: Column | str,
    order_cols: list[Column | str],
    out_col: str,
    *,
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = running sum of ``value_col`` in ``order_cols``
    order (inclusive by default), computed with the two-phase
    distributed scan above — bit-identical to
    ``sum(value) OVER (ORDER BY order_cols)`` for integer values under
    a total order, minus the single-task window.

    INTEGER (or decimal-exact) values only: the two-phase form adds in
    a different order than the single window, so float values would
    drift by accumulation order — the repo-wide exact-cents/fixed-point
    discipline is a REQUIREMENT here, not a style choice (enforced
    below by rejecting float/double value dtypes, r7 ADVICE)."""
    _check_reserved(df)
    n = num_partitions or _default_partitions(df)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    # Resolve the value expression's dtype against the real schema and
    # enforce the exact-arithmetic contract mechanically: a float/double
    # running sum would drift by accumulation order vs the single-window
    # form, a silent correctness bug rather than a loud one.  Resolved
    # on a LAZY projection of the input (r8 ADVICE) — schema analysis
    # runs no job, so an invalid value column raises before the range
    # pin plans (and samples) the input.
    vt = df.withColumn("_rk_val", value).schema["_rk_val"].dataType.typeName()
    if vt in ("float", "double"):
        raise TypeError(
            f"global_running_sum requires exact arithmetic (integer/decimal); "
            f"value column resolved to {vt} — cast to DECIMAL or integer cents first"
        )
    b = (
        pin(df.repartitionByRange(n, *order_cols))
        .withColumn("_rk_pid", F.spark_partition_id())
        .withColumn("_rk_val", value)
    )
    totals = b.groupBy("_rk_pid").agg(F.sum("_rk_val").alias("_rk_tot"))
    w_parts = Window.orderBy("_rk_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_rk_pid", F.coalesce(F.sum("_rk_tot").over(w_parts), F.lit(0)).alias("_rk_off")
    )
    hi = -1 if exclusive else Window.currentRow
    w_local = (
        Window.partitionBy("_rk_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    return (
        b.join(F.broadcast(offsets), "_rk_pid")
        .withColumn(
            out_col,
            F.col("_rk_off") + F.coalesce(F.sum("_rk_val").over(w_local), F.lit(0)),
        )
        .drop("_rk_pid", "_rk_val", "_rk_off")
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = 1-based rank in ``order_cols`` order (must be a
    total order), equal to ``row_number() OVER (ORDER BY order_cols)``
    without the single-task window: the running count of the two-phase
    scan."""
    _check_reserved(df)
    n = num_partitions or _default_partitions(df)
    b = pin(df.repartitionByRange(n, *order_cols)).withColumn(
        "_rk_pid", F.spark_partition_id()
    )
    totals = b.groupBy("_rk_pid").agg(F.count(F.lit(1)).alias("_rk_tot"))
    w_parts = Window.orderBy("_rk_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_rk_pid", F.coalesce(F.sum("_rk_tot").over(w_parts), F.lit(0)).alias("_rk_off")
    )
    w_local = Window.partitionBy("_rk_pid").orderBy(*order_cols)
    return (
        b.join(F.broadcast(offsets), "_rk_pid")
        .withColumn(out_col, F.col("_rk_off") + F.row_number().over(w_local))
        .drop("_rk_pid", "_rk_off")
    )


def top_k_ranked(
    df: DataFrame,
    k: int,
    order_cols: list[Column | str],
    rank_col: str,
) -> DataFrame:
    """Top-``k`` rows in ``order_cols`` order with a 1-based ``rank_col``.

    ``orderBy().limit(k)`` plans as a distributed TakeOrdered (each
    partition keeps its local top-k, the driver merges k·P candidates)
    — no global sort, no single-task window; the rank window then runs
    over ≤k rows, bounded by construction."""
    head = df.orderBy(*order_cols).limit(k)
    w = Window.orderBy(*order_cols)
    return head.withColumn(rank_col, F.row_number().over(w))
