"""SparkSession builder.

Local test configuration mirrors the target cluster shape: AQE on (runtime
partition coalescing + skew-join handling), shuffle partitions sized to the
local core count instead of the 200 default, Arrow enabled for the
Pandas-UDF slow path, and UTC session time zone so timestamps hash-match
the DuckDB oracle (DuckDB timestamps are UTC-naive).

Two confs shape the Python workers.  ``spark.python.daemon.module`` runs
``worker_daemon``, pyspark's daemon with zip imports that skip re-reading
an unchanged ``pyspark.zip`` on every task (about 0.14 s CPU per task on
CPython below 3.13).  ``spark.executorEnv.PYTHONPATH`` is the directory
that holds this package, so the daemon, and the UDFs cloudpickle ships by
reference, import from any driver working directory.  Executors that do
not share the driver's filesystem need the package shipped to them.

At 100 TB the same builder applies with cluster-mode settings supplied by
spark-submit; nothing here pins local mode except the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import lawfirm_data_pipeline_spark

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_PARENT = os.path.dirname(os.path.abspath(lawfirm_data_pipeline_spark.__path__[0]))


def get_spark(
    app_name: str = "lawfirm_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the core count — right for the
    sf0.001..0.1 test scales; a 1000-executor run against 100 TB would
    raise it (or rely on AQE coalescing from a high initial value).
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Parquet scans: keep splits small enough that a 100 TB table still
        # yields memory-sized partitions; AQE coalesces the tiny-SF case.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # A warm lead tick uses more than the default 100 generated
        # classes: at 100 it recompiled 56-71 of them per tick, at 1000 0-11.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.daemon.module", "lawfirm_data_pipeline_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
