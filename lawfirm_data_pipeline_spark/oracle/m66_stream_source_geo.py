"""M66 — round-4 wave 6: Python streaming data source + geo kit.

q242 closes the last Spark-4 Python-DataSource surface: the SAME
paged connector q202 reads in batch now streams through
``simpleStreamReader`` (offset = page cursor, ``readBetweenOffsets``
= replay-on-recovery), and the drained stream must reproduce the
batch oracle exactly — pages lost between micro-batches or replayed
twice both flip the hash.  q243 adds the geospatial-lite class:
haversine distances and grid-cell rollups as pure codegen math.

Registered after m65 — outside the round-4 driver window; first driver
rows with the round-5 rotation.  Two-scale differential green at
registration; BASELINE.md rows same-commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from ..sources import pydatasource
from ..streaming.bounded import run_stream_to_table
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q242: Python STREAMING data source drains to the batch answer
@query(
    "q242_python_stream_source",
    """
    WITH seeds AS (SELECT unnest(generate_series(0, 7)) AS seed),
         pages AS (SELECT seed, unnest(generate_series(0, 2 + seed % 3 - 1))
                            AS page
                   FROM seeds),
         items AS (SELECT seed, page, unnest([0, 1, 2]) AS item
                   FROM pages)
    SELECT CAST(seed AS BIGINT) AS seed,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(seed * 1000 + page * 10 + item) AS BIGINT) AS value_sum
    FROM items GROUP BY 1
    """,
)
def q242_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream.format("paged_demo")``: micro-batch N carries page
    N of every live seed; the drained aggregate must equal q202's
    batch scan of the same connector — the offset axis neither drops
    nor replays a page (sources/pydatasource.PagedDemoStreamReader)."""
    pydatasource.register(spark)
    stream = spark.readStream.format("paged_demo").option("seeds", "8").load()

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("seed").cast("long").alias("seed")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("value").cast("long").alias("value_sum"),
        )

    return run_stream_to_table(
        spark, stream, agg, "q242_paged_stream", output_mode="complete"
    )


# -- q243: haversine distances + geohash-style grid rollup
_LAT0, _LON0 = 40.7128, -74.006  # reference point (NYC)


@query(
    "q243_geo_grid",
    f"""
    WITH pts AS (
        SELECT c_custkey,
               -60.0 + (c_custkey * 7919 % 12000) / 100.0 AS lat,
               -180.0 + (c_custkey * 104729 % 36000) / 100.0 AS lon
        FROM customer
    ),
    d AS (
        SELECT c_custkey, lat, lon,
               CAST(floor(lat / 10) AS BIGINT) AS cell_lat,
               CAST(floor(lon / 10) AS BIGINT) AS cell_lon,
               2 * 6371.0088 * asin(sqrt(
                   pow(sin(radians(lat - {_LAT0}) / 2), 2)
                   + cos(radians({_LAT0})) * cos(radians(lat))
                     * pow(sin(radians(lon - {_LON0}) / 2), 2)
               )) AS km
        FROM pts
    )
    SELECT cell_lat, cell_lon,
           CAST(count(*) AS BIGINT) AS n_pts,
           {bfround_sql('min(km)', 3)} AS min_km,
           {bfround_sql('max(km)', 3)} AS max_km
    FROM d GROUP BY 1, 2
    """,
)
def q243_geo_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine distance to a fixed point + 10°-grid cell rollup over
    synthetic customer coordinates — the geo-bucketing shape (geohash /
    H3 coarse cells) as pure JVM codegen math: identical double
    expression trees on both engines, min/max (order-independent
    selections, not sums) rounded at the edge.  Grid rollup is one
    combinable groupBy; cells are the partition-pruning axis a spatial
    lake layout would write."""
    cust = load_table(spark, sf_dir, "customer")
    lat = (F.lit(-60.0) + (F.col("c_custkey") * 7919 % 12000) / 100.0).alias("lat")
    lon = (F.lit(-180.0) + (F.col("c_custkey") * 104729 % 36000) / 100.0).alias(
        "lon"
    )
    pts = cust.select("c_custkey", lat, lon)
    km = (
        F.lit(2 * 6371.0088)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - _LAT0) / 2), 2)
                + F.cos(F.radians(F.lit(_LAT0)))
                * F.cos(F.radians(F.col("lat")))
                * F.pow(F.sin(F.radians(F.col("lon") - _LON0) / 2), 2)
            )
        )
    ).alias("km")
    d = pts.select(
        "c_custkey",
        F.floor(F.col("lat") / 10).cast("long").alias("cell_lat"),
        F.floor(F.col("lon") / 10).cast("long").alias("cell_lon"),
        km,
    )
    return d.groupBy("cell_lat", "cell_lon").agg(
        F.count(F.lit(1)).cast("long").alias("n_pts"),
        bfround(F.min("km"), 3).alias("min_km"),
        bfround(F.max("km"), 3).alias("max_km"),
    )
