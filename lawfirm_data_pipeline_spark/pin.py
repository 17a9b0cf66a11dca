"""The engine's one materialization primitive.

Every operator, oracle query and pipeline stage that needs a subtree
evaluated once for several consumers calls :func:`pin`; nothing else in
the package calls ``cache``, ``persist``, ``unpersist`` or
``localCheckpoint`` (tests/test_pin_idiom.py enforces this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Evaluate ``df`` once, on the first job that reads the result.

    A lazy ``localCheckpoint`` at Spark's default storage level (memory,
    spilling to disk): the first job over the returned DataFrame
    materializes every partition, and every later consumer, in the same
    or a later job, reads those blocks.  Nothing is registered in the
    session CacheManager, so a finished query leaves no cache entry; the
    blocks are freed by the ContextCleaner once the plan is garbage
    collected.

    Fault tolerance: lineage is cut and each block has one replica on
    the executor that wrote it.  Losing that executor fails the query
    instead of recomputing the lost partitions.
    """
    return df.localCheckpoint(eager=False)
