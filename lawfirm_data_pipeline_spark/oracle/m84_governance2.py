"""M84 — round-5 wave 5: column-profile governance ops.

q273 — Shannon entropy + functional-dependency discovery: the two
metadata facts a catalog crawler actually computes.  Entropy ranks
columns by information content (PII screens key on high-entropy
strings); FD candidates (A → B iff every A-group has exactly one
distinct B) drive normalization and key inference.  One scan per
profiled column pair, combinable aggregates only; verdicts are
integer, entropy uses the identical-double-expression discipline
(WOE/PSI pattern) with round(6).

q274 — t-closeness (Li et al., ICDE'07), completing the k-anonymity
(q191) / l-diversity (q228) privacy ladder: per quasi-identifier
group, Earth-Mover's Distance between the group's sensitive-attribute
distribution and the global one over ORDERED buckets
(EMD = mean |cumulative share difference|), flagged against t = 0.2.
Group/bucket grids are tiny after one aggregate; at 100 TB the only
big stage is the combinable (group, bucket) count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..pin import pin
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q273_entropy_fd_profile",
    f"""
    WITH ent AS (
        SELECT col, CAST(count(*) AS BIGINT) AS n_distinct,
               {bfround_sql('-sum((n / tot) * ln(n / tot))', 6)} AS entropy
        FROM (
            SELECT col, v, CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(count(*)) OVER (PARTITION BY col) AS DOUBLE) AS tot
            FROM (
                SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
                UNION ALL
                SELECT 'o_orderpriority', o_orderpriority FROM orders
                UNION ALL
                SELECT 'c_mktsegment', c_mktsegment FROM customer
            ) GROUP BY col, v
        ) GROUP BY col
    ),
    fd AS (
        SELECT fd_name, CAST(count(*) AS BIGINT) AS n_lhs,
               CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violating
        FROM (
            SELECT 'o_custkey->c_mktsegment' AS fd_name, a,
                   count(DISTINCT b) AS nb
            FROM (SELECT o.o_custkey AS a, c.c_mktsegment AS b
                  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
            GROUP BY a
            UNION ALL
            SELECT 'o_orderpriority->o_orderstatus', a, count(DISTINCT b)
            FROM (SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders)
            GROUP BY a
        ) GROUP BY fd_name
    )
    SELECT col AS item, n_distinct, entropy,
           CAST(NULL AS BIGINT) AS n_violating
    FROM ent
    UNION ALL
    SELECT fd_name, n_lhs, CAST(NULL AS DOUBLE), n_violating FROM fd
    """,
)
def q273_entropy_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rows (item = column name) + FD rows (item = 'A->B',
    n_violating = LHS groups with > 1 distinct RHS; 0 ⟺ the FD holds).
    o_custkey→c_mktsegment holds by construction (attribute of the
    joined key); o_orderpriority→o_orderstatus is a counterexample."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    stacked = (
        orders.select(F.lit("o_orderstatus").alias("col"), F.col("o_orderstatus").alias("v"))
        .unionByName(
            orders.select(F.lit("o_orderpriority").alias("col"), F.col("o_orderpriority").alias("v"))
        )
        .unionByName(
            customer.select(F.lit("c_mktsegment").alias("col"), F.col("c_mktsegment").alias("v"))
        )
    )
    counts = stacked.groupBy("col", "v").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = F.sum("n").over(Window.partitionBy("col"))
    ent = (
        counts.withColumn("tot", tot)
        .groupBy("col")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            bfround(-F.sum((F.col("n") / F.col("tot")) * F.log(F.col("n") / F.col("tot"))), 6).alias("entropy"),
        )
        .select(
            F.col("col").alias("item"),
            "n_distinct",
            "entropy",
            F.lit(None).cast("long").alias("n_violating"),
        )
    )

    def fd(name: str, pairs: DataFrame) -> DataFrame:
        g = pairs.groupBy("a").agg(F.countDistinct("b").alias("nb"))
        return g.agg(
            F.lit(name).alias("item"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.lit(None).cast("double").alias("entropy"),
            F.sum(F.when(F.col("nb") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
        )

    fd1 = fd(
        "o_custkey->c_mktsegment",
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"]).select(
            F.col("o_custkey").alias("a"), F.col("c_mktsegment").alias("b")
        ),
    )
    fd2 = fd(
        "o_orderpriority->o_orderstatus",
        orders.select(
            F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
        ),
    )
    return ent.unionByName(fd1).unionByName(fd2)


_T = 0.2
_NBUCKETS = 5


@query(
    "q274_t_closeness",
    f"""
    WITH base AS (
        SELECT c_nationkey AS grp,
               least(CAST(floor(c_acctbal / 2500.0) AS INT) + 2,
                     {_NBUCKETS - 1}) AS bucket
        FROM customer
    ),
    g AS (SELECT grp, bucket, CAST(count(*) AS DOUBLE) AS n FROM base GROUP BY 1, 2),
    gt AS (SELECT grp, sum(n) AS gn FROM g GROUP BY 1),
    gdist AS (SELECT bucket, CAST(sum(n) AS DOUBLE) AS n FROM g GROUP BY 1),
    tot AS (SELECT sum(n) AS tn FROM gdist),
    grid AS (
        -- dense over the FULL 0..{_NBUCKETS - 1} domain (r8 fuzz fix):
        -- a bucket with zero GLOBAL count still contributes its |cd|
        -- (constant through the gap) to the Li et al. ordered-EMD sum;
        -- the observed-buckets grid silently dropped those positions
        SELECT gt.grp, b.bucket,
               coalesce(g.n, 0) / gt.gn AS p,
               coalesce(gdist.n, 0) / tot.tn AS q
        FROM gt
        CROSS JOIN (SELECT unnest(generate_series(0, {_NBUCKETS - 1}))
                    AS bucket) b
        LEFT JOIN gdist ON gdist.bucket = b.bucket
        CROSS JOIN tot
        LEFT JOIN g ON g.grp = gt.grp AND g.bucket = b.bucket
    ),
    cum AS (
        SELECT grp, bucket,
               sum(p - q) OVER (PARTITION BY grp ORDER BY bucket) AS cd
        FROM grid
    )
    SELECT grp AS group_id,
           {bfround_sql(f'sum(abs(cd)) / ({_NBUCKETS} - 1)', 6)} AS emd,
           sum(abs(cd)) / ({_NBUCKETS} - 1) > {_T} AS breach
    FROM cum GROUP BY grp
    """,
)
def q274_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMD-over-ordered-buckets t-closeness per nation group on the
    acctbal bucket distribution; breach ⟺ EMD > 0.2.  The grid is
    densified (every group × every bucket) so cumulative differences
    line up bucket-for-bucket in both engines."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_nationkey").alias("grp"),
        F.least(
            (F.floor(F.col("c_acctbal") / 2500.0)).cast("int") + F.lit(2),
            F.lit(_NBUCKETS - 1),
        ).alias("bucket"),
    )
    # the grp x bucket histogram is tiny and feeds four consumers
    # (group totals, global totals, grand total, densified grid) — pin
    # it so customer scans once (round-6 census: 4 scans unpinned)
    g = pin(base.groupBy("grp", "bucket").agg(F.count(F.lit(1)).cast("double").alias("n")))
    gt = g.groupBy("grp").agg(F.sum("n").alias("gn"))
    glob = g.groupBy("bucket").agg(F.sum("n").alias("bn"))
    tn = glob.agg(F.sum("bn").alias("tn"))
    # dense over the FULL 0.._NBUCKETS-1 domain (r8 fuzz fix): a bucket
    # with zero GLOBAL count still contributes its |cd| — constant
    # through the gap — to the Li et al. ordered-EMD sum; the
    # observed-buckets grid silently dropped those positions.  On the
    # real acctbal data only bucket 0 is unobserved and its cd is 0, so
    # the committed answers are bit-identical.
    domain = spark.range(_NBUCKETS).select(F.col("id").cast("int").alias("bucket"))
    grid = (
        gt.crossJoin(F.broadcast(domain))
        .join(F.broadcast(glob), "bucket", "left")
        .crossJoin(F.broadcast(tn))
        .join(g, ["grp", "bucket"], "left")
        .select(
            "grp",
            "bucket",
            (F.coalesce(F.col("n"), F.lit(0.0)) / F.col("gn")).alias("p"),
            (F.coalesce(F.col("bn"), F.lit(0.0)) / F.col("tn")).alias("q"),
        )
    )
    w = Window.partitionBy("grp").orderBy("bucket")
    cum = grid.withColumn("cd", F.sum(F.col("p") - F.col("q")).over(w))
    emd = F.sum(F.abs(F.col("cd"))) / F.lit(_NBUCKETS - 1)
    return cum.groupBy(F.col("grp").alias("group_id")).agg(
        bfround(emd, 6).alias("emd"),
        (emd > _T).alias("breach"),
    )
