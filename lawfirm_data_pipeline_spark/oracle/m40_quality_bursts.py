"""M40 — embedding-space quality and burst detection (round 3,
twenty-third wave).

q177 audits label separation in embedding space (mean cosine to own
class prototype vs the nearest other prototype — the
silhouette-flavored check run before trusting labels for contrastive
training); q178 is CUSUM burst detection over daily event volumes,
computed with the identity CUSUM_t = P_t - min_{j<=t} P_j over
INTEGER mean-centered prefix sums (centering by y*n - sum keeps every
intermediate an exact integer).

Registered after m39 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..operators.similarity import cosine, _dvec
from ..queries import query
from ._shared import _COS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# q177: each vector's cosine to its class prototype, in 1e-9 units
_INTRA_COS_1E9 = f"""{_COS.format(a='e.v', b='cent.c')}
                                              * 1e9"""


# -- q177: intra- vs inter-label cosine separation
@query(
    "q177_label_separation",
    f"""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
         u AS (SELECT label, i - 1 AS pos,
                      CAST({bfround_sql('v[i] * 1e9', 0)} AS BIGINT) AS x_fp
               FROM e, unnest(generate_series(1, 64)) AS t(i)),
         agg AS (SELECT label, pos, sum(x_fp) AS s, count(*) AS n
                 FROM u GROUP BY 1, 2),
         cent AS (SELECT label, list(el ORDER BY pos) AS c
                  FROM (SELECT label, pos, CAST(s AS DOUBLE) / 1e9 / n AS el
                        FROM agg)
                  GROUP BY label),
         intra AS (SELECT e.label, CAST(count(*) AS BIGINT) AS n_vecs,
                          CAST(sum(CAST({bfround_sql(_INTRA_COS_1E9, 0)} AS BIGINT)) AS BIGINT) AS sfp
                   FROM e JOIN cent USING (label) GROUP BY 1),
         inter AS (SELECT a.label, max({_COS.format(a='a.c', b='b.c')}) AS mx
                   FROM cent a JOIN cent b ON a.label != b.label GROUP BY 1)
    SELECT intra.label, n_vecs,
           {bfround_sql('CAST(sfp AS DOUBLE) / n_vecs / 1e9', 6)} AS intra_mean_cos,
           {bfround_sql('mx', 6)} AS nearest_other_cos
    FROM intra JOIN inter ON inter.label = intra.label
    """,
)
def q177_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean cosine of each vector to its own class prototype vs the
    closest other prototype.  Prototypes come from the q99 exact
    fixed-point sums (identical element doubles on both engines);
    per-vector cosines snap to nano fixed point before the per-label
    integer mean; the 10x10 prototype comparison is a broadcast-sized
    cross."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("label", _dvec("embedding").alias("v"))
    ex = e.select("label", F.posexplode("v").alias("pos", "x"))
    # cent is #labels rows but its lineage is the corpus-wide posexplode
    # aggregate, and it feeds THREE consumers (the intra broadcast, both
    # sides of the prototype cross) — unpinned the explode+agg pipeline
    # runs once per consumer (guide §5).  The pin holds the #labels x dim
    # sums; the per-label collect above it is the aggregate that bounds
    # cent's broadcast sides.
    agg = pin(
        ex.select("label", "pos", bfround(F.col("x") * 1e9).cast("long").alias("x_fp"))
        .groupBy("label", "pos")
        .agg(F.sum("x_fp").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cent = (
        agg.select(
            "label",
            "pos",
            (F.col("s").cast("double") / 1e9 / F.col("n")).alias("el"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "el"))), lambda r: r["el"]
            ).alias("c")
        )
    )
    intra = (
        e.join(F.broadcast(cent), "label")
        .select(
            "label",
            bfround(cosine(F.col("v"), F.col("c")) * 1e9).cast("long").alias("cfp"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("cfp").cast("long").alias("sfp"),
        )
    )
    a = cent.select(F.col("label").alias("la"), F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), F.col("c").alias("cb"))
    inter = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select("la", cosine(F.col("ca"), F.col("cb")).alias("cc"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.max("cc").alias("mx"))
    )
    return intra.join(inter, "label").select(
        "label",
        "n_vecs",
        bfround(F.col("sfp").cast("double") / F.col("n_vecs") / 1e9, 6).alias(
            "intra_mean_cos"
        ),
        bfround(F.col("mx"), 6).alias("nearest_other_cos"),
    )


# -- q178: CUSUM burst detection on daily volumes, all-integer
@query(
    "q178_cusum_bursts",
    """
    WITH daily AS (SELECT event_type AS etype, CAST(ts AS DATE) AS d,
                          CAST(count(*) AS BIGINT) AS y
                   FROM events GROUP BY 1, 2),
         tot AS (SELECT etype, CAST(sum(y) AS BIGINT) AS sm,
                        CAST(count(*) AS BIGINT) AS n
                 FROM daily GROUP BY 1),
         z AS (SELECT daily.etype, d, y * n - sm AS zt, n, sm
               FROM daily JOIN tot USING (etype)),
         p1 AS (SELECT etype, d, n, sm,
                       CAST(sum(zt) OVER w AS BIGINT) AS pt
                FROM z
                WINDOW w AS (PARTITION BY etype ORDER BY d
                             ROWS UNBOUNDED PRECEDING)),
         p AS (SELECT etype, d, n, sm, pt,
                      CAST(min(pt) OVER (PARTITION BY etype ORDER BY d
                                         ROWS UNBOUNDED PRECEDING)
                           AS BIGINT) AS mn
               FROM p1),
         s AS (SELECT etype, d, pt - least(mn, 0) AS st, n, sm FROM p),
         mx AS (SELECT etype, CAST(max(st) AS BIGINT) AS max_excursion
                FROM s GROUP BY 1)
    SELECT mx.etype, mx.max_excursion,
           CAST(min(s.d) AS TIMESTAMP) AS peak_day,
           mx.max_excursion > CAST(max(s.sm) AS BIGINT) AS burst
    FROM mx JOIN s ON s.etype = mx.etype AND s.st = mx.max_excursion
    GROUP BY 1, 2
    """,
)
def q178_cusum_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM over mean-centered daily counts using
    S_t = P_t - min(0, min_prefix P): centering as y*n - sum keeps
    every term an exact integer (no float mean), both windows ride the
    per-type daily grid, and the peak day takes the earliest tie.  A
    burst flags when the max excursion exceeds one full mean-day * n
    (= sum, in the scaled units)."""
    events = load_table(spark, sf_dir, "events")
    # the etype x day grid is tiny and consumed by the totals and the
    # CUSUM chain (which is itself read twice: max excursion + peak
    # pick) — pinned, events scans once (round-6 census: 4x).
    daily = pin(
        events.groupBy(F.col("event_type").alias("etype"), F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    tot = daily.groupBy("etype").agg(
        F.sum("y").cast("long").alias("sm"), F.count(F.lit(1)).cast("long").alias("n")
    )
    z = daily.join(F.broadcast(tot), "etype").select(
        "etype", "d", (F.col("y") * F.col("n") - F.col("sm")).alias("zt"), "n", "sm"
    )
    w = Window.partitionBy("etype").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p = z.select(
        "etype",
        "d",
        "n",
        "sm",
        F.sum("zt").over(w).cast("long").alias("pt"),
    ).withColumn("mn", F.min("pt").over(w).cast("long"))
    s = p.select(
        "etype", "d", "sm", (F.col("pt") - F.least(F.col("mn"), F.lit(0))).alias("st")
    )
    mx = s.groupBy("etype").agg(F.max("st").cast("long").alias("max_excursion"))
    return (
        mx.join(s, "etype")
        .filter(F.col("st") == F.col("max_excursion"))
        .groupBy("etype", "max_excursion")
        .agg(
            F.min("d").cast("timestamp").alias("peak_day"),
            (F.col("max_excursion") > F.max("sm")).alias("burst"),
        )
        .select("etype", "max_excursion", "peak_day", "burst")
    )
