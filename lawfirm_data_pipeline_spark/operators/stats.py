"""Column-level statistical profiling: exact correlation matrices.

Charter §2.C addition — the numeric-column screening step (feature
redundancy, leakage checks, drift comparison between snapshots) a data
pipeline runs before training consumers see the table.

``column_correlations`` computes every pairwise Pearson correlation in
ONE scan with ZERO shuffle: all co-moment sums (Σx, Σx², Σxy per pair)
are exact fixed-point integers accumulated in a single global
aggregate (decimal(38) sums — products of two 1e2-scaled doubles can
overflow int64 at corpus row counts), and the correlation formula is
evaluated once per pair from those exact sums in the final one-row
projection.  Output is long-form (col_x, col_y, n, corr) — the shape a
drift-diff join consumes.

``avg(x*y)``-style float accumulation would drift with partition
order; the fixed-point discipline makes the result bit-stable at any
parallelism and reproducible in ANSI SQL (the q99/q108 pattern, at
column rather than vector granularity).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from lawfirm_data_pipeline_spark.functions.rounding import bfround

from ..pin import pin

_SCALE = 100  # inputs carry <= 2 decimals; exact at integer cents


def _fp(col: str):
    return bfround(F.col(col) * _SCALE).cast("long")


def column_correlations(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation for every unordered column pair.

    One ``agg`` computes n, Σx and Σx² per column, and Σxy per pair —
    decimal(38,0) sums of int64 fixed-point products (exact).  The
    final projection assembles corr = (nΣxy − ΣxΣy) /
    √((nΣx²−Σx²)(nΣy²−Σy²)) per pair and explodes to long form.
    """
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(_fp(c).cast("decimal(38,0)")).alias(f"s_{c}"))
        aggs.append(
            F.sum((_fp(c) * _fp(c)).cast("decimal(38,0)")).alias(f"ss_{c}")
        )
    for a, b in combinations(cols, 2):
        aggs.append(
            F.sum((_fp(a) * _fp(b)).cast("decimal(38,0)")).alias(f"sp_{a}_{b}")
        )
    one = df.agg(*aggs)

    def corr_expr(a: str, b: str):
        n = F.col("n").cast("double")
        sx, sy = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        sxx, syy = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sxy = F.col(f"sp_{a}_{b}").cast("double")
        num = n * sxy - sx * sy
        den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        return bfround(num / den, 6) + F.lit(0.0)

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col("n").alias("n"),
                corr_expr(a, b).alias("corr"),
            )
            for a, b in combinations(cols, 2)
        ]
    )
    return one.select(F.explode(pairs).alias("p")).select(
        "p.col_x", "p.col_y", "p.n", "p.corr"
    )


def pca_explained_variance(
    embeddings: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """PCA spectrum audit from the exact covariance matrix: collect the
    d(d+1)/2 covariance entries (O(d²) scalars — driver-side
    eigendecomposition of a d×d matrix is the one place driver math is
    the RIGHT call: cost is independent of corpus size), eigendecompose,
    and emit a one-row verdict summary the oracle can value-check.

    Output: ``(n_components, trace, trace_matches_eigsum,
    ratios_in_bounds, ratios_sum_ok)`` — ``trace`` is exactly
    SQL-reproducible (sum of the fixed-point per-dimension variances,
    the q108 diagonal), and the eigen-side facts that SQL cannot
    compute are gated as verdict booleans (trace == Σλ is the
    eigendecomposition's own consistency check).
    """
    import numpy as np

    from .similarity import embedding_covariance

    rows = embedding_covariance(embeddings, dim=dim, vec_col=vec_col).collect()
    cov = np.zeros((dim, dim))
    for r in rows:
        cov[r.i, r.j] = cov[r.j, r.i] = r.cov
    eig = np.linalg.eigvalsh(cov)[::-1]
    # trace via exact fixed point (entries carry 6 decimals): a float
    # sum's order differs between numpy and the SQL twin's aggregate.
    # Outer rounding is binary-floor — the SAME IEEE ops as the SQL
    # twin's bfround_sql(..., 4); python round() half-EVENs on the repr
    # and splits from binfloor on half the repr-tie class (r11 rounding
    # audit).  Inner micro-snap margin: entries are already 6dp-exact,
    # so round() there sits >= ~0.5-1e-9 from any tie.
    import math

    _sum6 = sum(int(round(cov[i, i] * 1e6)) for i in range(dim)) / 1e6
    trace = math.floor(_sum6 * 1e4 + 0.5) / 1e4
    ratios = eig / eig.sum()
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [
            (
                dim,
                trace,
                bool(abs(eig.sum() - trace) <= 1e-4 * max(trace, 1e-12) + 1e-4),
                bool((ratios > -1e-12).all() and ratios.max() <= 1.0),
                bool(abs(ratios.sum() - 1.0) <= 1e-9),
            )
        ],
        "n_components int, trace double, trace_matches_eigsum boolean, "
        "ratios_in_bounds boolean, ratios_sum_ok boolean",
    )


def mad_outliers(
    df: DataFrame,
    group_col: str = "event_type",
    cents_col: str = "cents",
    k: float = 4.4478,
) -> DataFrame:
    """Robust outlier counts per group: median / MAD on an exact-cents
    integer column, flagging |x - median| > k * MAD (k = 3 * 1.4826
    approximates 3 sigma under normality).

    Exact percentiles on INTEGER cents keep the comparison
    deterministic: every interpolated median lands on the half-cent
    grid, so both engines compute identical doubles from identical
    sorted inputs — a float value column would make median ties
    engine-dependent.  Two grouped exact-percentile aggregates (Spark
    sorts within each group partition); at 100 TB the same query runs
    with approx_percentile + a tolerance gate, the exact form is the
    oracle-friendly twin.
    """
    # |groups|-row table; dev is consumed twice (MAD derivation + final
    # flag pass — inherent multi-pass over row-level data), and an
    # unpinned med re-ran its grouped percentile per consumption
    med = pin(
        df.groupBy(group_col).agg(
            F.expr(f"percentile({cents_col}, 0.5)").alias("med_cents"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    # med/mad tables are |groups| rows — broadcast both join-backs so
    # the event stream never reshuffles on the group key twice
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "adev", F.abs(F.col(cents_col) - F.col("med_cents"))
    )
    mad = dev.groupBy(group_col).agg(F.expr("percentile(adev, 0.5)").alias("mad_cents"))
    return (
        dev.join(F.broadcast(mad), group_col)
        .groupBy(group_col, "n", "med_cents", "mad_cents")
        .agg(
            F.sum(
                F.when(F.col("adev") > F.lit(k) * F.col("mad_cents"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(group_col, "n", "med_cents", "mad_cents", "n_outliers")
    )


def chisq_independence(
    df: DataFrame, row_col: str, col_col: str, scale: int = 10**9
) -> DataFrame:
    """Chi-square test of independence between two categorical columns:
    one output row (chi2, dof, n_rows).

    Observed counts are one groupBy; row/column marginals are two
    map-side-combinable re-aggregations of that contingency table (its
    cardinality is |R|x|C|, tiny), broadcast back.  Each cell's
    (O-E)^2/E is computed from exact integer counts in identical IEEE
    steps on both engines, snapped to nano fixed point, and SUMMED AS
    INTEGERS — the repo-wide trick that makes a float statistic
    partition-order independent.

    Headroom (r10 q227-class audit): the expected-count numerator
    rn·cn is formed in DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) —
    exact for ANY two long marginals (≤(9.2e18)² ≈ 8.5e37 < 1e38) —
    then rounded once to double.  The former long×long product raised
    ANSI ARITHMETIC_OVERFLOW once rn·cn ≥ 2^63, i.e. n ≳ 3e9 rows
    with balanced marginals — well inside a 100 TB corpus.  The
    exact-decimal → nearest-double value is identical to the old
    long → double path wherever both were defined, so no tested value
    moves.
    """
    # the |R|x|C| contingency table feeds four consumers (marginals,
    # totals, densified grid); unpinned, each re-ran the corpus groupBy
    # (round-6 census: 4 full scans for one tiny aggregate)
    cells = pin(
        df.groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    rows = cells.groupBy("r").agg(F.sum("o").cast("long").alias("rn"))
    cols = cells.groupBy("c").agg(F.sum("o").cast("long").alias("cn"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct(F.col("r")).cast("long").alias("nr"),
        F.count_distinct(F.col("c")).cast("long").alias("nc"),
    )
    d19 = "decimal(19,0)"
    e = (F.col("rn").cast(d19) * F.col("cn").cast(d19)).cast("double") / F.col(
        "n"
    ).cast("double")
    contrib = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    # a single cell's contribution is O(n) when association is strong,
    # so the nano-snapped value reaches n*1e9 — DECIMAL(38,0), not long
    # (which capped the statistic at ~9.2e9 before raising)
    snapped = bfround(contrib * F.lit(float(scale))).cast("decimal(38,0)")
    # densify to the full R x C grid: a zero cell contributes E to the
    # statistic and MUST appear (groupBy alone omits it — chi2 would be
    # silently understated exactly when association is strongest).  The
    # column marginal crosses over as ONE collected row, so the
    # nested-loop build side is a global aggregate, bounded at any scale.
    grid = (
        rows.crossJoin(cols.agg(F.collect_list(F.struct("c", "cn")).alias("cs")))
        .select("r", "rn", F.explode("cs").alias("y"))
        .select("r", "rn", "y.c", "y.cn")
    )
    return (
        grid.join(cells, ["r", "c"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0).cast("long")))
        .crossJoin(F.broadcast(tot))
        .select(snapped.alias("k_fp"), "n", "nr", "nc")
        .groupBy("n", "nr", "nc")
        .agg(F.sum("k_fp").alias("s"))
        .select(
            bfround(F.col("s").cast("double") / F.lit(float(scale)), 6).alias("chi2"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            F.col("n").alias("n_rows"),
        )
    )


def trend_slopes(
    df: DataFrame,
    group_col: str = "event_type",
    day_col: str = "d",
    count_col: str = "y",
) -> DataFrame:
    """Per-group OLS slope of a daily count series, from pure integer
    co-moments: slope = (m*Sdy - Sd*Sy) / (m*Sd2 - Sd^2).

    Headroom (r10 q227-class audit): m, Sd, Sd2 are calendar-bounded
    (m days ≲ 1e5, day index ≲ 2e4 → Sd ≤ 2e9, Sd2 ≤ 4e13 — intrinsic,
    long-safe at any corpus size), but Sy and Sdy grow with ROW COUNT:
    the former all-long derivation overflowed the numerator m·Sdy −
    Sd·Sy once a group's total count Sy reached ~4.6e9 — trivially
    exceeded at 100 TB.  Sd2 and Sdy therefore sum DECIMAL per-row
    products (day d9 × count d19 → exact decimal sums; day index must
    stay < 1e9, enforced by the cast's loud ANSI raise) and the four
    co-moment terms are formed in decimal — exact while Sy < 9.2e18
    (the long bound F.sum enforces loudly on Sy itself) and
    Sdy, Sd2 < 1e28.  The only float operation is still ONE final
    division of two exact integers: bit-identical across engines and
    partitionings.  One map-side-combinable aggregate after the daily
    rollup.
    """
    d9, d10, d19, d28 = (
        "decimal(9,0)",
        "decimal(10,0)",
        "decimal(19,0)",
        "decimal(28,0)",
    )
    day_d, cnt_d = F.col(day_col).cast(d9), F.col(count_col).cast(d19)
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(day_col).cast("long").alias("sd"),
            F.sum(count_col).cast("long").alias("sy"),
            F.sum(day_d * day_d).alias("sd2"),
            F.sum(day_d * cnt_d).alias("sdy"),
        )
        .select(
            group_col,
            F.col("m").alias("n_days"),
            (
                (
                    F.col("m").cast(d10) * F.col("sdy").cast(d28)
                    - F.col("sd").cast(d19) * F.col("sy").cast(d19)
                ).cast("double")
                / (
                    F.col("m").cast(d10) * F.col("sd2").cast(d28)
                    - F.col("sd").cast(d19) * F.col("sd").cast(d19)
                ).cast("double")
            ).alias("slope_per_day"),
        )
    )


def impute_group_median_audit(
    df: DataFrame, group_col: str, cents_col: str = "cents"
) -> DataFrame:
    """Median-impute missing values per group and audit the result:
    (group, n_rows, n_imputed, med_cents, mean_cents_after).

    The group median of INTEGER cents lands on the half-cent grid, so
    the post-imputation sum is an exact integer in half-cent units:
    2*sum(non-null) + n_imputed * (2*median) — mean_cents_after is one
    division of exact integers, not a float accumulation.  Median table
    is |groups| rows, broadcast back."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({cents_col}, 0.5)").alias("med_cents"),
    )
    joined = df.join(F.broadcast(med), group_col)
    half = F.when(
        F.col(cents_col).isNull(), bfround(F.col("med_cents") * 2).cast("long")
    ).otherwise(F.col(cents_col) * 2)
    return joined.groupBy(group_col, "med_cents").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col(cents_col).isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_imputed"),
        bfround((F.sum(half).cast("double") / F.lit(2.0)) / F.count(F.lit(1)).cast("double"), 6).alias("mean_cents_after"),
    ).select(group_col, "n_rows", "n_imputed", "med_cents", "mean_cents_after")


def cuped_adjusted_means(per_user: DataFrame) -> DataFrame:
    """CUPED variance-reduced treatment means [Deng et al., WSDM'13]:
    adjust each arm's post-period mean with the pooled pre-period
    covariate, ``theta = cov(pre, post) / var(pre)``.

    ``per_user`` columns: (arm, pre_cents BIGINT, post_cents BIGINT) —
    one row per experimental unit, metrics in integer cents.  Returns
    per arm: (arm, n_users, raw_mean, adjusted_mean), means in currency
    units rounded to 6.

    Determinism discipline: every aggregate is an EXACT sum — n, Σpre,
    Σpost as 64-bit integers, the two product sums Σpre², Σpre·post as
    DECIMAL(38,0) — so no float ever enters an aggregation and the
    result is independent of partitioning, the property that lets it
    hash-match a single-threaded oracle.  Theta and the adjusted means
    are derived from those few scalars in one final projection: the
    numerator/denominator n·Σpre·post − Σpre·Σpost are formed in
    DECIMAL(38,0) (exact to 1e38) and only the final ratio is a double.

    Headroom (r9, found by the sf3 value differential): the former
    all-BIGINT derivation computed n·Σpre² in long arithmetic, which
    overflows once n·Σpre² ≥ 2^63 ≈ 9.2e18 — at sf3's 30× user count
    that product reached ~1e19 and ANSI mode raised
    ARITHMETIC_OVERFLOW.  The decimal path is exact while n < 1e10 and
    the product sums < 1e27 (ceilings ~1e6× beyond the verified
    scales); past those, ANSI decimal overflow still raises loudly
    rather than wrapping.  The DuckDB twin mirrors with HUGEINT
    (exact to 1.7e38) and the identical final double ops, so the
    exact-integer → nearest-double value agrees bit-for-bit.

    Per-row headroom (r10 ADVICE #2): the per-row casts below are
    DECIMAL(19,0), which holds every BIGINT (|cents| ≤ 2^63−1 ≈
    9.2e18 < 1e19), so the cast itself can never overflow; the former
    DECIMAL(18,0) raised ANSI ARITHMETIC_OVERFLOW once a single user's
    |cents| reached 1e18.  The d19×d19 product is DECIMAL(38,0) and
    the product SUMS keep the 1e27 ceiling documented above.
    """
    d19row = "decimal(19,0)"
    products = per_user.select(
        "arm",
        "pre_cents",
        "post_cents",
        (F.col("pre_cents").cast(d19row) * F.col("pre_cents").cast(d19row)).alias("pp"),
        (F.col("pre_cents").cast(d19row) * F.col("post_cents").cast(d19row)).alias("po"),
    )
    pooled = products.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre_cents").cast("long").alias("sp"),
        F.sum("pp").alias("spp"),
        F.sum("po").alias("spo"),
        F.sum("post_cents").cast("long").alias("so"),
    )
    arms = products.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.sum("pre_cents").cast("long").alias("sp_a"),
        F.sum("post_cents").cast("long").alias("so_a"),
    )
    # theta = (n·Σpre·post − Σpre·Σpost) / (n·Σpre² − (Σpre)²), formed
    # exactly in decimal (n ≤ 10 digits × sums ≤ 27 digits → ≤ 38
    # digits), double only at the final ratio.
    d10, d27, d19 = "decimal(10,0)", "decimal(27,0)", "decimal(19,0)"
    theta = (
        F.col("n").cast(d10) * F.col("spo").cast(d27)
        - F.col("sp").cast(d19) * F.col("so").cast(d19)
    ).cast("double") / (
        F.col("n").cast(d10) * F.col("spp").cast(d27)
        - F.col("sp").cast(d19) * F.col("sp").cast(d19)
    ).cast("double")
    pre_mean_global = F.col("sp").cast("double") / F.col("n")
    raw_mean = F.col("so_a").cast("double") / F.col("n_a")
    pre_mean_arm = F.col("sp_a").cast("double") / F.col("n_a")
    return (
        arms.crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            F.col("n_a").alias("n_users"),
            bfround(raw_mean / 100.0, 6).alias("raw_mean"),
            bfround((raw_mean - theta * (pre_mean_arm - pre_mean_global)) / 100.0, 6).alias("adjusted_mean"),
        )
    )
