"""M48 — Spark-4-native API surfaces under the value gate
(round 3 continuation).

Three capabilities that exist ONLY on the Spark 4 API generation, each
gated to an engine-neutral oracle:

* q202 — the Python Data Source API: A19's paged external source as a
  registered ``format("paged_demo")`` connector (one partition per
  seed, page loop inside the task); DuckDB regenerates the page space
  from generate_series.
* q203 — a Python UDTF (table function) joined LATERAL over documents;
  the oracle is the plain unnest.  API-surface parity — the scale path
  for n-grams remains the JVM ``shingles_of`` expressions (q32
  family); the UDTF exists for kernels that genuinely need Python.
* q204 — VariantType JSON: ``parse_json`` + typed ``variant_get``
  extraction over events.props, the Spark-4 upgrade of q21's
  string-path ``get_json_object``.

Registered after m47 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from ..sources import pydatasource
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q202: Python DataSource connector, value-gated
@query(
    "q202_python_datasource",
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
def q202_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered connector and summarize per seed —
    row counts and a value checksum that moves if any page is dropped,
    duplicated, or re-ordered into the wrong seed partition
    (sources/pydatasource.py; reference shape
    extractGooglePlaces.ts:137-349's page-count probe + next-page
    loop, re-expressed as partition-per-seed scan planning)."""
    pydatasource.register(spark)
    df = spark.read.format("paged_demo").option("seeds", "8").load()
    return df.groupBy(F.col("seed").cast("long").alias("seed")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("value").cast("long").alias("value_sum"),
    )


# -- q203: Python UDTF joined LATERAL, oracle = plain unnest
@query(
    "q203_udtf_ngrams",
    """
    WITH d AS (SELECT doc_id,
                      list_filter(str_split_regex(trim(lower(text)), '\\s+'),
                                  t -> t != '') AS toks
               FROM documents WHERE doc_id < 200),
         g AS (SELECT doc_id,
                      unnest(list_transform(
                        generate_series(1, greatest(len(toks) - 1, 0)),
                        i -> array_to_string(toks[i:i+1], ' '))) AS ngram
               FROM d)
    SELECT ngram, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g GROUP BY 1 HAVING count(*) >= 5
    """,
)
def q203_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts over a bounded slice via a registered Python UDTF
    in a LATERAL join — the Spark-4 table-function surface.  The UDTF
    is row-at-a-time Python and therefore NOT the n-gram scale path
    (that stays ``shingles_of``'s JVM expressions); it exists for
    expansion kernels that genuinely need Python, and this gate proves
    the lateral plumbing is lossless against the declarative twin."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, ngram string")
    class Bigrams:
        def eval(self, doc_id, text):
            toks = [t for t in (text or "").lower().split() if t]
            for i in range(len(toks) - 1):
                yield doc_id, toks[i] + " " + toks[i + 1]

    spark.udtf.register("bigrams_t", Bigrams)
    g = spark.sql(
        "SELECT t.ngram, t.doc_id FROM {docs} d,"
        " LATERAL bigrams_t(d.doc_id, d.text) t",
        docs=load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text"),
    )
    return (
        g.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n") >= 5)
    )


_AVG_K = "avg(CAST(props->>'$.k' AS INTEGER))"


# -- q204: VariantType JSON extraction (typed variant_get)
@query(
    "q204_variant_json",
    f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS max_k,
           {bfround_sql(_AVG_K, 4)} AS avg_k
    FROM events GROUP BY 1
    """,
)
def q204_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props parsed ONCE into a Variant column, then typed
    ``variant_get`` extraction — the Spark-4 semi-structured path that
    replaces per-access JSON string re-parsing (q21's
    get_json_object).  At scale the parse cost is paid once per row
    regardless of how many fields downstream expressions pull, and the
    binary variant encoding pushes through shuffles far smaller than
    the JSON text."""
    # parse AND extract in one projection: four variant_get copies in
    # the aggregate re-walked the variant per aggregate (6.6 s -> ~1 s
    # at sf0.1 from this hoist)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.max("k").cast("long").alias("max_k"),
        bfround(F.avg("k"), 4).alias("avg_k"),
    )
