"""Distributed exact nonparametric statistics — Mann-Whitney U,
two-sample Kolmogorov-Smirnov, grouped OLS trend (SURVEY.md §2.B
"event/experiment analytics"; the parametric Welch t lives in
relational.py — these are its rank/ECDF siblings, the tests an
experimentation platform runs when normality can't be assumed).

All three follow the engine's determinism rules (registry.py): every
statistic is exact integer arithmetic — rank/ECDF machinery reduces to
distinct-value counts plus ONE distributed prefix sum
(skew.global_prefix: range partitions, local windows and K in-plan
partition offsets) rather than a single-partition global window, so
the plans scale to 10⁸+ distinct values. DuckDB mirrors the prefix
sums with ordinary window cumsums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_emr_on_eks_fgac_iceberg_spark.operators.registry import register
from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
    exact_order_statistics,
    global_prefix,
)
from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import (
    load_table,
    materialize_once,
)

_DEC = "decimal(38,0)"


def _float_prefix_offsets(
    partials: DataFrame, sum_col: str, max_col: str | None = None
) -> DataFrame:
    """Exclusive per-partition prefix offsets for a FLOAT fold,
    computed in-plan (optimization r14 — replaces the
    collect()+createDataFrame driver round-trip the survival
    estimators paid): for each pid, the lower-pid partials fold via
    ``array_sort`` + ``aggregate`` — a deterministic ascending-pid
    sequential sum, bit-equal to the driver loop it replaces (float
    addition is order-sensitive; an unordered F.sum could differ by an
    ulp). The optional ``max_col`` running max is order-free. K-row
    theta self-join, K = partition count (cluster width, never data
    size)."""
    a = partials.select(F.col("pid").alias("__a_pid"))
    bcols = [
        F.col("pid").alias("__b_pid"),
        F.col(sum_col).alias("__b_v"),
    ]
    if max_col is not None:
        bcols.append(F.col(max_col).alias("__b_m"))
    b = partials.select(*bcols)
    g = (
        a.join(b, F.col("__b_pid") < F.col("__a_pid"), "left")
        .groupBy("__a_pid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__b_pid", "__b_v"))
            ).alias("__arr"),
            *(
                [F.coalesce(F.max("__b_m"), F.lit(0)).alias("__max_off")]
                if max_col is not None
                else []
            ),
        )
    )
    out = [
        F.col("__a_pid").alias("pid"),
        F.aggregate(
            "__arr",
            F.lit(0.0),
            lambda acc, x: acc + F.coalesce(x["__b_v"], F.lit(0.0)),
        ).alias("__sum_off"),
    ]
    if max_col is not None:
        out.append("__max_off")
    return g.select(*out)


@register(
    "mannwhitney_u_priority",
    oracle="""
    WITH g AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS isa
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    c AS (SELECT v, SUM(isa) AS ca, SUM(1 - isa) AS cb FROM g GROUP BY v),
    p AS (
        SELECT v, ca, cb,
               COALESCE(SUM(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumb
        FROM c)
    SELECT CAST(SUM(ca) AS BIGINT) AS n_urgent,
           CAST(SUM(cb) AS BIGINT) AS n_low,
           CAST(SUM(CAST(ca AS HUGEINT) * (2 * cumb + cb)) AS BIGINT)
               AS u2_urgent,
           CAST(SUM(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
                    - (ca + cb)) AS BIGINT) AS tie_term
    FROM p
    """,
)
def mannwhitney_u_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) for urgent vs low-priority
    order values — the nonparametric A/B location test. Everything is
    exact integers: 2·U_urgent = Σ_v ca(v)·(2·cumb(<v) + cb(v))
    (each tie contributes ½ twice), and the tie-correction term
    Σ_t t³−t rides along so a consumer can form the normal
    approximation's variance without re-scanning.

    Plan shape at 100 TB: the fact table collapses to one hash agg on
    DISTINCT VALUE (ca, cb per cents value); the rank machinery is one
    range repartition of that value table + per-partition local cumsum
    + K broadcast offsets (skew.global_prefix — the gini/ABC idiom,
    no single-partition window); the statistic is a 1-row agg.
    Accumulation rides DECIMAL(38,0)/HUGEINT (U ≤ na·nb overflows
    int64 at ~10¹⁰ rows per arm); the final cast to BIGINT is
    presentation."""
    g = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("isa"),
        )
    )
    c = g.groupBy("v").agg(
        F.sum("isa").cast(_DEC).alias("ca"),
        F.sum(F.lit(1) - F.col("isa")).cast(_DEC).alias("cb"),
    )
    p = global_prefix(c, ["v"], {"cumb": F.col("cb")}, inclusive=False)
    t = F.col("ca") + F.col("cb")
    return p.agg(
        F.sum("ca").cast("bigint").alias("n_urgent"),
        F.sum("cb").cast("bigint").alias("n_low"),
        F.sum(F.col("ca") * (F.lit(2).cast(_DEC) * F.col("cumb") + F.col("cb")))
        .cast("bigint")
        .alias("u2_urgent"),
        F.sum(t * t * t - t).cast("bigint").alias("tie_term"),
    )


@register(
    "ks_two_sample_segments",
    oracle="""
    WITH g AS (
        SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS isa
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
    c AS (SELECT v, SUM(isa) AS ca, SUM(1 - isa) AS cb FROM g GROUP BY v),
    p AS (
        SELECT v,
               SUM(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cuma,
               SUM(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumb
        FROM c),
    tot AS (SELECT SUM(isa) AS na, SUM(1 - isa) AS nb FROM g)
    SELECT CAST(na AS BIGINT) AS n_building,
           CAST(nb AS BIGINT) AS n_machinery,
           CAST(MAX(abs(CAST(cuma AS HUGEINT) * nb
                        - CAST(cumb AS HUGEINT) * na)) AS BIGINT)
               AS d_numerator,
           CAST(MAX(abs(CAST(cuma AS HUGEINT) * nb
                        - CAST(cumb AS HUGEINT) * na))
                * 1000000 // (CAST(na AS HUGEINT) * nb) AS BIGINT)
               AS d_ppm
    FROM p, tot GROUP BY na, nb
    """,
)
def ks_two_sample_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the BUILDING and
    MACHINERY account-balance distributions — the drift test a data
    pipeline runs between cohorts or snapshots. D = max_v |F_A(v) −
    F_B(v)| is computed as an exact integer: the numerator
    max|cumA(≤v)·nB − cumB(≤v)·nA| over the distinct-value grid (the
    max of |ECDF difference| is always attained at a sample point),
    reported raw and as truncated ppm of na·nb.

    Plan shape at 100 TB: identical skeleton to mannwhitney —
    distinct-value hash agg → ONE distributed inclusive prefix sum
    (range repartition + K broadcast offsets) → 1-row max. Both arms'
    cumsums share ONE range layout, and the group totals come from the
    same K-row fold as the offsets, not driver scalars."""
    g = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("isa"),
        )
    )
    c = g.groupBy("v").agg(
        F.sum("isa").cast(_DEC).alias("ca"),
        F.sum(F.lit(1) - F.col("isa")).cast(_DEC).alias("cb"),
    )
    j = global_prefix(c, ["v"], {"cuma": F.col("ca"), "cumb": F.col("cb")})
    j = j.withColumnsRenamed({"cuma_total": "na", "cumb_total": "nb"})
    diff = F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
    return j.groupBy("na", "nb").agg(
        F.max(diff).alias("d_num")
    ).select(
        F.col("na").cast("bigint").alias("n_building"),
        F.col("nb").cast("bigint").alias("n_machinery"),
        F.col("d_num").cast("bigint").alias("d_numerator"),
        F.expr("CAST((d_num * 1000000) div (na * nb) AS BIGINT)").alias(
            "d_ppm"
        ),
    )


@register(
    "orders_yearly_trend_ols",
    oracle="""
    WITH daily AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(dayofyear(o_orderdate) AS HUGEINT) AS x,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS y
        FROM orders GROUP BY 1, 2),
    m AS (
        SELECT yr, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM daily GROUP BY yr)
    SELECT yr, CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END
                * (abs(n * sxy - sx * sy) * 1000000
                   // (n * sxx - sx * sx)) AS BIGINT)
               AS slope_ppm_cents_per_day
    FROM m WHERE n >= 2
    """,
)
def orders_yearly_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year OLS trend of daily revenue on day-of-year — 'is revenue
    growing within the year, and how fast' as an exact integer:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) in truncated ppm of a
    cent per day, sign applied to the positive magnitude (Spark div
    truncates toward zero, DuckDB // floors — they agree only on
    non-negative operands, the orders_qoq_growth rule).

    Plan shape at 100 TB: one (year, doy) hash agg collapses the fact
    table to ≤366 rows per year; the regression moments are a second
    keyed agg over that; no window, no driver state. Moments ride
    DECIMAL(38,0)/HUGEINT (Σxy ~ 10¹⁶ already at single-tenant scale)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.dayofyear("o_orderdate").cast(_DEC).alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast(_DEC)
            ).alias("y")
        )
    )
    m = daily.groupBy("yr").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.filter(F.col("n") >= 2).select(
        "yr",
        F.col("n").cast("bigint").alias("n_days"),
        (
            F.when(num >= 0, F.lit(1)).otherwise(F.lit(-1))
            * F.expr(
                "CAST((abs(n * sxy - sx * sy) * 1000000) "
                "div (n * sxx - sx * sx) AS DECIMAL(38,0))"
            )
        )
        .cast("bigint")
        .alias("slope_ppm_cents_per_day"),
    )


@register(
    "theilsen_yearly_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(dayofyear(o_orderdate) AS HUGEINT) AS x,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS y
        FROM orders GROUP BY 1, 2),
    pairs AS (
        SELECT a.yr,
               CASE WHEN b.y >= a.y THEN 1 ELSE -1 END
               * (abs(b.y - a.y) * 1000000 // (b.x - a.x)) AS slope_ppm
        FROM daily a JOIN daily b ON a.yr = b.yr AND b.x > a.x),
    r AS (
        SELECT yr, slope_ppm,
               ROW_NUMBER() OVER (PARTITION BY yr
                                  ORDER BY slope_ppm) AS rn,
               COUNT(*) OVER (PARTITION BY yr) AS n
        FROM pairs)
    SELECT yr, CAST(n AS BIGINT) AS n_pairs,
           CAST(slope_ppm AS BIGINT) AS median_slope_ppm
    FROM r WHERE rn = (n + 1) // 2
    """,
)
def theilsen_yearly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue per year — the median of
    all pairwise slopes, immune to the outlier days that drag the OLS
    estimate (orders_yearly_trend_ols is its fragile sibling; shipping
    both is the point). Slopes are ppm-quantized exact integers with
    the sign-safe truncating division (Δx > 0 by construction, Δy may
    be negative); the median is the LOWER median at rank (n+1)//2 —
    the engine's discrete-median rule.

    Plan shape at 100 TB: the fact table collapses to ≤366 daily rows
    per year FIRST, so the pairwise self-join is calendar-bounded
    (≤366·365/2 ≈ 67k pairs per year, whatever the corpus size) and
    the median window partitions BY YEAR — bounded state everywhere;
    nothing scales with row count past the first agg."""
    daily = materialize_once(
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.dayofyear("o_orderdate").cast(_DEC).alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast(_DEC)
            ).alias("y")
        )
    )
    b = daily.select(
        F.col("yr").alias("yr2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    pairs = daily.join(
        b, (F.col("yr") == F.col("yr2")) & (F.col("x2") > F.col("x"))
    ).select(
        "yr",
        (
            F.when(F.col("y2") >= F.col("y"), F.lit(1)).otherwise(F.lit(-1))
            * F.expr(
                "CAST((abs(y2 - y) * 1000000) div (x2 - x) AS DECIMAL(38,0))"
            )
        )
        .cast("bigint")
        .alias("slope_ppm"),
    )
    w = Window.partitionBy("yr").orderBy("slope_ppm")
    r = pairs.select(
        "yr",
        "slope_ppm",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("yr")).alias("n"),
    )
    return r.filter(
        F.col("rn") == F.expr("CAST((n + 1) div 2 AS INT)")
    ).select(
        "yr",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("slope_ppm").alias("median_slope_ppm"),
    )


@register(
    "customers_spearman_balance_spend",
    oracle="""
    WITH xy AS (
        SELECT c.c_custkey,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS x,
               CAST(COALESCE(SUM(CAST(round(o.o_totalprice * 100)
                                      AS HUGEINT)), 0) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal),
    xc AS (SELECT x, COUNT(*) AS t FROM xy GROUP BY x),
    xr AS (SELECT x, 2 * COALESCE(SUM(t) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS u
           FROM xc),
    yc AS (SELECT y, COUNT(*) AS t FROM xy GROUP BY y),
    yr AS (SELECT y, 2 * COALESCE(SUM(t) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS v
           FROM yc),
    r AS (SELECT CAST(u AS HUGEINT) AS u, CAST(v AS HUGEINT) AS v
          FROM xy JOIN xr USING (x) JOIN yr USING (y)),
    m AS (SELECT COUNT(*) AS n, SUM(u) AS su, SUM(v) AS sv,
                 SUM(u * v) AS suv, SUM(u * u) AS suu,
                 SUM(v * v) AS svv
          FROM r)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(n * suv - su * sv AS DOUBLE)
               / (sqrt(CAST(n * suu - su * su AS DOUBLE))
                  * sqrt(CAST(n * svv - sv * sv AS DOUBLE))) AS spearman_rho
    FROM m
    """,
)
def customers_spearman_balance_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between account balance and lifetime
    spend — 'do rich-on-paper customers actually buy more', robust to
    the monotone-but-nonlinear relationship Pearson misreads. Ranks
    use AVERAGE tie handling kept exact by doubling:
    2·avg_rank = 2·cnt_below + t + 1 (an integer); rho is then ONE
    fixed double expression over exact DECIMAL(38,0)/HUGEINT moments
    (+,−,×,/ and sqrt are IEEE-correctly-rounded — the registry
    determinism rules' allowed set).

    Plan shape at 100 TB: the spend rollup is one custkey-keyed agg +
    join; BOTH axes' rank tables ride ONE stacked prefix-sum pipeline
    (optimization r14): the (x, y) pairs union long-form under a dim
    tag, one (dim, value) hash agg counts ties, and one dim-led range
    repartition + local cumsum + per-dim offsets fold produces both
    rank tables — half the range-sample jobs, exchanges and barriers
    of the previous per-axis spelling, identical ranks (the dim tag
    leads the range order, so within a dim the order is exactly the
    value order). Ranks join back by VALUE (broadcastable only if the
    value tables are small — left as keyed joins); the moments fold in
    a 1-row agg."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("x"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast(_DEC)
            ).alias("spend")
        )
    )
    xy = materialize_once(
        c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
            "x",
            F.coalesce(F.col("spend"), F.lit(0).cast(_DEC))
            .cast("bigint")
            .alias("y"),
        )
    )

    stacked = xy.select(
        F.lit(0).alias("dim"), F.col("x").alias("val")
    ).unionByName(xy.select(F.lit(1).alias("dim"), F.col("y").alias("val")))
    cnt = stacked.groupBy("dim", "val").agg(
        F.count(F.lit(1)).cast(_DEC).alias("t")
    )
    p = global_prefix(
        cnt, ["val"], {"cum": F.col("t")}, by=["dim"], inclusive=False
    )
    ranks = p.select(
        "dim",
        "val",
        (
            F.lit(2).cast(_DEC) * F.col("cum")
            + F.col("t")
            + F.lit(1).cast(_DEC)
        ).alias("rr"),
    )
    rx = ranks.filter(F.col("dim") == 0).select(
        F.col("val").alias("x"), F.col("rr").alias("u")
    )
    ry = ranks.filter(F.col("dim") == 1).select(
        F.col("val").alias("y"), F.col("rr").alias("v")
    )
    r = xy.join(rx, "x").join(ry, "y")
    m = r.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        (
            (F.col("n") * F.col("suv") - F.col("su") * F.col("sv")).cast(
                "double"
            )
            / (
                F.sqrt(
                    (F.col("n") * F.col("suu") - F.col("su") * F.col("su"))
                    .cast("double")
                )
                * F.sqrt(
                    (F.col("n") * F.col("svv") - F.col("sv") * F.col("sv"))
                    .cast("double")
                )
            )
        ).alias("spearman_rho"),
    )


@register(
    "kruskal_wallis_priority",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders),
    cv AS (SELECT v, grp, COUNT(*) AS c FROM g GROUP BY v, grp),
    tv AS (SELECT v, SUM(c) AS t FROM cv GROUP BY v),
    pv AS (SELECT v, t,
                  COALESCE(SUM(t) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cb
           FROM tv),
    rg AS (SELECT cv.grp,
                  SUM(CAST(cv.c AS HUGEINT)
                      * (2 * pv.cb + pv.t + 1)) AS s2,
                  SUM(cv.c) AS ng
           FROM cv JOIN pv USING (v) GROUP BY cv.grp),
    m AS (SELECT SUM(ng) AS n, COUNT(*) AS k,
                 SUM((CAST(s2 AS HUGEINT) * s2) // ng) AS a
          FROM rg),
    tie AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tt FROM tv)
    SELECT CAST(n AS BIGINT) AS n_orders, CAST(k AS BIGINT) AS k_groups,
           CAST((3 * a * 1000000) // (CAST(n AS HUGEINT) * (n + 1))
                - 3 * (n + 1) * 1000000 AS BIGINT) AS h_ppm,
           CAST((tt * 1000000)
                // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT) AS tie_ppm
    FROM m, tie
    """,
)
def kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL five order priorities — the
    k-sample extension of Mann-Whitney (one-way ANOVA on ranks; 'does
    order value differ by priority at all', before pairwise tests).
    Exact integers throughout: doubled average-tie rank sums per group
    S2_g = Σ_v c_{v,g}·(2·cum<(v) + t_v + 1) (the Spearman doubling),
    then H = 3/(N(N+1))·Σ S2_g²/n_g − 3(N+1) reported in truncated
    ppm with the per-group division truncated IDENTICALLY on both
    engines (all operands positive, Spark div ≡ DuckDB //); the tie
    correction Σ(t³−t) rides along as tie_ppm of N³−N so a consumer
    forms H/(1−tie) without re-scanning.

    Plan shape at 100 TB: the fact table collapses to one (value,
    group) hash agg; per-value totals are a second small agg; the rank
    machinery is ONE distributed exclusive prefix sum over distinct
    values (range repartition + K broadcast offsets — the mannwhitney
    skeleton); group rank-sums and the 1-row fold are k-bounded.
    S2_g² ≤ 4N⁴ rides DECIMAL(38,0)/HUGEINT."""
    g = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    cv = materialize_once(
        g.groupBy("v", "grp").agg(F.count(F.lit(1)).cast(_DEC).alias("c"))
    )
    tv = cv.groupBy("v").agg(F.sum("c").alias("t"))
    pv = global_prefix(tv, ["v"], {"cb": F.col("t")}, inclusive=False)
    rg = (
        cv.join(pv.select("v", "t", "cb"), "v")
        .groupBy("grp")
        .agg(
            F.sum(
                F.col("c")
                * (F.lit(2).cast(_DEC) * F.col("cb") + F.col("t") + F.lit(1))
            ).alias("s2"),
            F.sum("c").alias("ng"),
        )
    )
    m = rg.agg(
        F.sum("ng").cast(_DEC).alias("n"),
        F.count(F.lit(1)).cast(_DEC).alias("k"),
        F.sum(F.expr("CAST((s2 * s2) div ng AS DECIMAL(38,0))")).alias("a"),
    )
    tie = tv.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tt")
    )
    return m.crossJoin(F.broadcast(tie)).select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("k").cast("bigint").alias("k_groups"),
        F.expr(
            "CAST((3 * a * 1000000) div (n * (n + 1)) "
            "- 3 * (n + 1) * 1000000 AS BIGINT)"
        ).alias("h_ppm"),
        F.expr(
            "CAST((tt * 1000000) div (n * n * n - n) AS BIGINT)"
        ).alias("tie_ppm"),
    )

def _churn_at_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared survival-analysis skeleton under customer_churn_
    kaplan_meier AND customer_churn_nelson_aalen: per-customer
    engagement lifetime (days between first and last order; a last
    order ≥90 days before the corpus end is an observed churn EVENT,
    later ones right-CENSORED), collapsed to one row per lifetime day
    with (d = events, cens = censored, m = total) and the at-risk
    count n_risk = n − Σ_{s<t} m_s computed via the distributed
    prefix (skew.global_prefix — never an unpartitioned window). The
    returned frame keeps the helper's pid so each estimator can run its
    own float cumulative on the same partitioning.

    Plan shape at 100 TB: one custkey hash agg collapses the fact
    table; everything after is keyed on LIFETIME DAYS — calendar-
    bounded (≤ corpus span, a few thousand rows forever)."""
    o = load_table(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("md"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            F.datediff("last_d", "first_d").alias("lifetime"),
            F.when(
                F.col("last_d") <= F.date_sub(F.col("md"), 90), F.lit(1)
            )
            .otherwise(F.lit(0))
            .alias("event"),
        )
    )
    lt = materialize_once(
        cust.groupBy("lifetime").agg(
            F.sum("event").cast("bigint").alias("d"),
            F.sum(F.lit(1) - F.col("event")).cast("bigint").alias("cens"),
            F.count(F.lit(1)).cast("bigint").alias("m"),
        )
    )
    r = global_prefix(lt, ["lifetime"], {"lm": F.col("m")}, inclusive=False)
    return r.withColumn(
        "n_risk", (F.col("lm_total") - F.col("lm")).cast("bigint")
    )


@register(
    "customer_churn_kaplan_meier",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS md FROM orders),
    cust AS (
        SELECT o_custkey,
               date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                   AS lifetime,
               CASE WHEN MAX(o_orderdate) <= (SELECT md FROM maxd)
                         - INTERVAL 90 DAY THEN 1 ELSE 0 END AS event
        FROM orders GROUP BY o_custkey),
    lt AS (SELECT lifetime, SUM(event) AS d,
                  SUM(1 - event) AS cens, COUNT(*) AS m
           FROM cust GROUP BY lifetime),
    tot AS (SELECT SUM(m) AS n FROM lt),
    o AS (SELECT lifetime, d, cens,
                 CAST((SELECT n FROM tot)
                      - COALESCE(SUM(m) OVER (ORDER BY lifetime
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM lt),
    s AS (SELECT lifetime, d, cens, n_risk,
                 SUM(CASE WHEN d > 0 AND d < n_risk THEN
                         ln(CAST(n_risk - d AS DOUBLE)
                            / CAST(n_risk AS DOUBLE))
                     ELSE 0 END) OVER (ORDER BY lifetime
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS lsum,
                 MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY lifetime
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS dead
          FROM o)
    SELECT CAST(lifetime AS BIGINT) AS lifetime_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_churned,
           CAST(cens AS BIGINT) AS n_censored,
           CAST(CASE WHEN dead = 1 THEN 0
                ELSE round(exp(lsum) * 1000000) END AS BIGINT)
               AS survival_ppm
    FROM s WHERE d > 0
    """,
)
def customer_churn_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of customer engagement — lifetime = days
    between first and last order; a customer whose last order is ≥90
    days before the corpus end is an observed churn EVENT, later ones
    are right-CENSORED (the estimator's whole point: censored
    customers still count in the at-risk denominator until their
    censoring time). One row per event lifetime with the classic
    product-limit estimate S(t) = Π(1 − dᵢ/nᵢ), computed as
    exp(Σ ln((n−d)/n)) over the ordered event days — the cumulative
    window fixes the summation ORDER, so both engines add the same
    doubles in the same sequence and ppm rounding absorbs the ulp
    (the nation_segment_entropy ln-parity precedent). A day consuming
    the whole risk set pins survival to exactly 0.

    Plan shape at 100 TB: one custkey hash agg collapses the fact
    table; everything after is keyed on LIFETIME DAYS — calendar-
    bounded (≤ corpus span, a few thousand rows forever) — and every
    cumulative (at-risk exclusive Σ, ordered ln-sum, consumed flag)
    runs as the DISTRIBUTED prefix idiom: one range repartition,
    pid-local windows, K in-plan broadcast offsets — never an
    unpartitioned window. The offset association can differ from a
    strict sequential float sum by an ulp; ppm rounding absorbs it
    (same rule as the statistic itself)."""
    o2 = _churn_at_risk(spark, sf_dir)
    # the ln argument is spelled (n−d)/n with the SAME operation order
    # as the oracle — 1 − d/n would round differently
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    lwi = (
        Window.partitionBy("pid")
        .orderBy("lifetime")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o3 = materialize_once(
        o2.withColumn("t", term)
        .withColumn(
            "dflag",
            F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0),
        )
        .withColumn("lt_sum", F.sum("t").over(lwi))
        .withColumn("ld_max", F.max("dflag").over(lwi))
    )
    # in-plan exclusive offsets (optimization r14): ascending-pid
    # sequential float fold (bit-equal to the old driver loop) + an
    # order-free running max — one fewer synchronous driver round-trip
    partials = o3.groupBy("pid").agg(
        F.sum("t").alias("t_p"), F.max("dflag").alias("d_p")
    )
    offs2 = _float_prefix_offsets(partials, "t_p", "d_p")
    s = (
        o3.join(F.broadcast(offs2), "pid")
        .withColumn("lsum", F.col("__sum_off") + F.col("lt_sum"))
        .withColumn("dead", F.greatest("__max_off", "ld_max"))
    )
    return s.filter(F.col("d") > 0).select(
        F.col("lifetime").cast("bigint").alias("lifetime_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("d_churned"),
        F.col("cens").alias("n_censored"),
        F.when(F.col("dead") == 1, F.lit(0))
        .otherwise(F.round(F.exp("lsum") * 1000000))
        .cast("bigint")
        .alias("survival_ppm"),
    )


@register(
    "orders_trimmed_mean_price",
    oracle="""
    WITH r AS (
        SELECT CAST(round(o_totalprice * 100) AS HUGEINT) AS c,
               ROW_NUMBER() OVER (ORDER BY round(o_totalprice * 100),
                                  o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM orders),
    t AS (SELECT c, n FROM r
          WHERE rn > n // 20 AND rn <= n - n // 20)
    SELECT CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(c) AS BIGINT) AS kept_cents,
           CAST(SUM(c) AS DOUBLE) / (100 * COUNT(*)) AS trimmed_mean
    FROM t
    """,
)
def orders_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value — the robust location estimate
    (drop ⌊n/20⌋ rows at EACH tail by global position, average the
    rest). Positional trimming needs exact global ranks; the plain
    mean's outlier sensitivity is why a metrics pipeline ships both.

    Plan shape at 100 TB: the gini/deciles rank idiom — range
    repartition on (cents, orderkey), LOCAL running counts + K
    broadcast offsets give exact global ranks with no single-partition
    window (skew.global_prefix, which also brings n); the trim is a
    filter and the mean is one exact integer sum + one division."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        "o_orderkey",
    )
    g = global_prefix(o, ["c", "o_orderkey"], {"rn": F.lit(1)})
    g = g.withColumnRenamed("rn_total", "n")
    kept = g.filter(
        (F.col("rn") > F.expr("n div 20"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 20"))
    )
    return kept.agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum(F.col("c").cast(_DEC)).cast("bigint").alias("kept_cents"),
        (
            F.sum(F.col("c").cast(_DEC)).cast("double")
            / (F.lit(100) * F.count(F.lit(1)))
        ).alias("trimmed_mean"),
    )


@register(
    "customers_balance_spend_copula_grid",
    oracle="""
    WITH xy AS (
        SELECT c.c_custkey,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS x,
               CAST(COALESCE(SUM(CAST(round(o.o_totalprice * 100)
                                      AS HUGEINT)), 0) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal),
    rx AS (SELECT c_custkey,
                  ROW_NUMBER() OVER (ORDER BY x, c_custkey) AS rnx
           FROM xy),
    ry AS (SELECT c_custkey,
                  ROW_NUMBER() OVER (ORDER BY y, c_custkey) AS rny
           FROM xy),
    tot AS (SELECT COUNT(*) AS n FROM xy),
    b AS (SELECT CAST(((rnx - 1) * 10) // n AS BIGINT) AS x_decile,
                 CAST(((rny - 1) * 10) // n AS BIGINT) AS y_decile
          FROM rx JOIN ry USING (c_custkey), tot)
    SELECT x_decile, y_decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) * 1000000 // (SELECT n FROM tot) AS BIGINT)
               AS share_ppm
    FROM b GROUP BY x_decile, y_decile
    """,
)
def customers_balance_spend_copula_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical copula grid — the decile-of-balance × decile-of-spend
    joint distribution (10×10 counts): the rank-space dependence view
    that shows WHERE the association lives (corner mass = the
    relationship is in the tails), complementing the single-number
    Spearman rho. Deciles are positional — exact global row_number
    with a custkey tiebreak, bucket = ⌊(rank−1)·10/n⌋ — so the grid is
    integer-exact and each margin is balanced by construction.

    Plan shape at 100 TB: the spend rollup is one keyed agg + join;
    BOTH axes' global ranks ride ONE stacked pipeline (optimization
    r14): the (custkey, x) and (custkey, y) rows union long-form under
    a dim tag, one dim-led range repartition + local running count per
    (pid, dim) + per-dim offsets fold ranks both axes — half the
    range-sample jobs, exchanges and barriers of the previous per-axis
    spelling, identical ranks (the dim tag leads the range order) —
    and ONE custkey hash agg re-pivots (rnx, rny) instead of the
    previous two-frame join; the grid is a 100-group hash agg."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("x"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast(_DEC)
            ).alias("spend")
        )
    )
    xy = materialize_once(
        c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
            "c_custkey",
            "x",
            F.coalesce(F.col("spend"), F.lit(0).cast(_DEC))
            .cast("bigint")
            .alias("y"),
        )
    )
    stacked = xy.select(
        "c_custkey", F.lit(0).alias("dim"), F.col("x").alias("val")
    ).unionByName(
        xy.select("c_custkey", F.lit(1).alias("dim"), F.col("y").alias("val"))
    )
    rank_long = global_prefix(
        stacked, ["val", "c_custkey"], {"rank": F.lit(1)}, by=["dim"]
    )
    b = (
        rank_long.groupBy("c_custkey")
        .agg(
            F.max(F.when(F.col("dim") == 0, F.col("rank"))).alias("rnx"),
            F.max(F.when(F.col("dim") == 1, F.col("rank"))).alias("rny"),
            F.max("rank_total").alias("n"),
        )
        .select(
            F.expr("CAST(((rnx - 1) * 10) div n AS BIGINT)").alias(
                "x_decile"
            ),
            F.expr("CAST(((rny - 1) * 10) div n AS BIGINT)").alias(
                "y_decile"
            ),
            "n",
        )
    )
    return b.groupBy("x_decile", "y_decile", "n").agg(
        F.count(F.lit(1)).cast(_DEC).alias("cnt")
    ).select(
        "x_decile",
        "y_decile",
        F.col("cnt").cast("bigint").alias("n_customers"),
        F.expr("CAST((cnt * 1000000) div n AS BIGINT)").alias("share_ppm"),
    )


@register(
    "nations_balance_spend_pearson",
    oracle="""
    WITH xy AS (
        SELECT c.c_nationkey AS nation,
               CAST(round(c.c_acctbal * 100) AS HUGEINT) AS x,
               CAST(COALESCE(SUM(CAST(round(o.o_totalprice * 100)
                                      AS HUGEINT)), 0) AS HUGEINT) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_nationkey, c.c_acctbal),
    m AS (
        SELECT nation, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM xy GROUP BY nation)
    SELECT nation, CAST(n AS BIGINT) AS n_customers,
           CAST(CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END
                * (abs(n * sxy - sx * sy) * 1000000
                   // (n * sxx - sx * sx)) AS BIGINT)
               AS slope_ppm,
           CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
               * 1000000) AS BIGINT) AS pearson_r_ppm
    FROM m WHERE n >= 3 AND n * sxx - sx * sx > 0
    """,
)
def nations_balance_spend_pearson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped bivariate regression — per-nation OLS slope (lifetime
    spend on account balance, truncated ppm, sign-safe) and Pearson r
    in rounded ppm — the spend moments exceed 2^53 here, so the exact
    DECIMAL/HUGEINT→double casts can differ by an ulp across engines
    and ppm rounding absorbs it (unlike the rank-moment Spearman,
    whose moments stay double-exact): 'where does
    paper wealth predict actual spend', the segmented-correlation
    sweep a BI workload runs per region/cohort. The raw-value sibling
    of the global Spearman (customers_spearman_balance_spend): rank vs
    linear correlation per group, both exact-moment based.

    Plan shape at 100 TB: one custkey agg + join builds the per-
    customer frame, then ONE nation-keyed moment agg (map-side
    partials; moments in DECIMAL(38,0)/HUGEINT) — no windows, no
    driver state; the statistic row count is |nations|."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("c_acctbal") * 100).cast(_DEC).alias("x"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast(_DEC)
            ).alias("spend")
        )
    )
    xy = c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
        "nation",
        "x",
        F.coalesce(F.col("spend"), F.lit(0).cast(_DEC)).alias("y"),
    )
    m = xy.groupBy("nation").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.filter(
        (F.col("n") >= 3)
        & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    ).select(
        "nation",
        F.col("n").cast("bigint").alias("n_customers"),
        (
            F.when(num >= 0, F.lit(1)).otherwise(F.lit(-1))
            * F.expr(
                "CAST((abs(n * sxy - sx * sy) * 1000000) "
                "div (n * sxx - sx * sx) AS DECIMAL(38,0))"
            )
        )
        .cast("bigint")
        .alias("slope_ppm"),
        F.round(
            num.cast("double")
            / (
                F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    .cast("double")
                )
                * F.sqrt(
                    (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                    .cast("double")
                )
            )
            * 1000000
        )
        .cast("bigint")
        .alias("pearson_r_ppm"),
    )


@register(
    "orders_value_psi_yearly",
    oracle="""
    WITH v AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               o_orderkey
        FROM orders),
    base AS (SELECT * FROM v WHERE yr = (SELECT MIN(yr) FROM v)),
    nb AS (SELECT COUNT(*) AS n FROM base),
    cut AS (
        SELECT v AS b, ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rn
        FROM base),
    cuts AS (
        SELECT k, MAX(b) FILTER (rn = (k * (SELECT n FROM nb) + 9) // 10)
                   AS b
        FROM cut CROSS JOIN generate_series(1, 9) AS g(k)
        GROUP BY k),
    binned AS (
        SELECT yr,
               COALESCE((SELECT COUNT(*) FROM cuts WHERE cuts.b < v.v),
                        0) AS bin
        FROM v),
    cnts AS (SELECT yr, bin, COUNT(*) AS cnt FROM binned GROUP BY yr, bin),
    yt AS (SELECT yr, SUM(cnt) AS n_yr FROM cnts GROUP BY yr),
    b0 AS (SELECT bin, cnt AS bcnt FROM cnts
           WHERE yr = (SELECT MIN(yr) FROM v)),
    terms AS (
        SELECT c.yr, yt.n_yr,
               (CAST(c.cnt AS DOUBLE) / yt.n_yr
                - CAST(b0.bcnt AS DOUBLE) / (SELECT n FROM nb))
               * ln((CAST(c.cnt AS DOUBLE) / yt.n_yr)
                    / (CAST(b0.bcnt AS DOUBLE) / (SELECT n FROM nb)))
                   AS t
        FROM cnts c JOIN yt USING (yr) JOIN b0 USING (bin))
    SELECT yr, CAST(MAX(n_yr) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used,
           CAST(round(SUM(t) * 1000000) AS BIGINT) AS psi_micro_nats
    FROM terms GROUP BY yr
    """,
)
def orders_value_psi_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    each year against the FIRST year — the binned drift monitor
    ML-ops runs on model inputs (PSI < 0.1 stable, > 0.25 shifted).
    Bins are the base year's positional deciles (cutpoint = value at
    global rank ⌈k·n/10⌉ over the strict (value, orderkey) order — the
    engine's exact_order_statistics position rule, mirrored verbatim);
    PSI = Σ (p−q)·ln(p/q) over bins present in BOTH periods, reported
    in rounded micro-nats (the ln-parity absorb rule) with the
    used-bin count so a consumer sees when mass fell off the grid.

    Plan shape at 100 TB: the base year's 9 cutpoints come from the
    exact_order_statistics machinery (range repartition + per-
    partition counts → K driver scalars → ONE filter); binning is a
    broadcast 9-way CASE over the fact scan; everything after is a
    (year, bin) hash agg — ≤10 rows per year forever. (A fully
    in-plan variant — cutpoints as a broadcast 1-row array — measured
    slower at sf0.1 and sf1, OPTIMIZATION_r15.md, and was removed.)"""
    v = materialize_once(
        load_table(spark, sf_dir, "orders").select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            "o_orderkey",
        )
    )
    base_yr = v.agg(F.min("yr")).collect()[0][0]  # scale-ok: one scalar, the base period id
    base = v.filter(F.col("yr") == base_yr)
    stats = exact_order_statistics(
        base.select("v", "o_orderkey"), ["v", "o_orderkey"],
        [(k, 10) for k in range(1, 10)],
    )
    cuts = sorted(row["v"] for _, _, row in stats)
    bin_col = F.lit(0)
    for b in cuts:
        bin_col = bin_col + F.when(F.lit(b) < F.col("v"), 1).otherwise(0)
    cnts = materialize_once(
        v.select("yr", bin_col.alias("bin"))
        .groupBy("yr", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    b0 = cnts.filter(F.col("yr") == base_yr).select(
        "bin", F.col("cnt").alias("bcnt")
    )
    yt = cnts.groupBy("yr").agg(F.sum("cnt").alias("n_yr"))
    # base-period total rides a broadcast 1-row frame off the already-
    # materialized bin counts — the previous base.count() re-scanned
    # the base year as its own driver job (optimization r14)
    nb0 = b0.agg(F.sum("bcnt").cast("double").alias("nb"))
    p = F.col("cnt").cast("double") / F.col("n_yr")
    q = F.col("bcnt").cast("double") / F.col("nb")
    terms = (
        cnts.join(yt, "yr")
        .join(F.broadcast(b0), "bin")
        .crossJoin(F.broadcast(nb0))
        .select("yr", "n_yr", ((p - q) * F.log(p / q)).alias("t"))
    )
    return terms.groupBy("yr").agg(
        F.max("n_yr").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        F.round(F.sum("t") * 1000000).cast("bigint").alias(
            "psi_micro_nats"
        ),
    )


@register(
    "wilcoxon_signed_rank_halves",
    oracle="""
    WITH halves AS (
        SELECT o_custkey,
               SUM(CASE WHEN year(o_orderdate) < 1998 THEN
                   CAST(round(o_totalprice * 100) AS HUGEINT)
                   ELSE 0 END) AS early,
               SUM(CASE WHEN year(o_orderdate) >= 1998 THEN
                   CAST(round(o_totalprice * 100) AS HUGEINT)
                   ELSE 0 END) AS late,
               COUNT(*) FILTER (year(o_orderdate) < 1998) AS n_e,
               COUNT(*) FILTER (year(o_orderdate) >= 1998) AS n_l
        FROM orders GROUP BY o_custkey),
    d AS (
        SELECT late - early AS diff FROM halves
        WHERE n_e > 0 AND n_l > 0),
    nz AS (SELECT abs(diff) AS ad,
                  CASE WHEN diff > 0 THEN 1 ELSE 0 END AS isp
           FROM d WHERE diff <> 0),
    c AS (SELECT ad, SUM(isp) AS cp, SUM(1 - isp) AS cn
          FROM nz GROUP BY ad),
    p AS (
        SELECT ad, cp, cn,
               COALESCE(SUM(cp + cn) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cb
        FROM c)
    SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_pairs,
           CAST((SELECT COUNT(*) FROM d WHERE diff = 0) AS BIGINT)
               AS n_zero,
           CAST(COALESCE(SUM(CAST(cp AS HUGEINT)
                             * (2 * cb + cp + cn + 1)), 0)
                AS BIGINT) AS w2_plus,
           CAST(COALESCE(SUM(CAST(cn AS HUGEINT)
                             * (2 * cb + cp + cn + 1)), 0)
                AS BIGINT) AS w2_minus,
           CAST(COALESCE(SUM(CAST(cp + cn AS HUGEINT) * (cp + cn)
                             * (cp + cn) - (cp + cn)), 0)
                AS BIGINT) AS tie_term
    FROM p
    """,
)
def wilcoxon_signed_rank_halves(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED customer spend — early era
    (orders before 1998, the corpus midpoint) vs late era per customer, the within-subject
    nonparametric test that completes the engine's trio (Mann-Whitney
    for two independent samples, Kruskal-Wallis for k). Zero diffs
    drop (the standard convention, counted in n_zero); ranks of |d|
    use the doubled average-tie rule (2R = 2·cum< + t + 1, exact
    integers), and 2·W⁺ / 2·W⁻ + the tie term Σ(t³−t) let a consumer
    form the normal approximation without re-scanning. W⁺+W⁻ =
    n(n+1)/2 exactly (the doubled identity is asserted in tests).

    Plan shape at 100 TB: one custkey hash agg builds the pairs; the
    rank machinery is the mannwhitney skeleton over DISTINCT |d|
    values (ONE distributed exclusive prefix sum — range repartition +
    K broadcast offsets); the statistic is a 1-row fold with
    DECIMAL(38,0)/HUGEINT accumulation."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast(_DEC)
    early_flag = F.year("o_orderdate") < 1998
    halves = o.groupBy("o_custkey").agg(
        F.sum(F.when(early_flag, cents).otherwise(F.lit(0).cast(_DEC)))
        .alias("early"),
        F.sum(F.when(~early_flag, cents).otherwise(F.lit(0).cast(_DEC)))
        .alias("late"),
        F.sum(F.when(early_flag, 1).otherwise(0)).alias("n_e"),
        F.sum(F.when(~early_flag, 1).otherwise(0)).alias("n_l"),
    )
    d = materialize_once(
        halves.filter((F.col("n_e") > 0) & (F.col("n_l") > 0)).select(
            (F.col("late") - F.col("early")).alias("diff")
        )
    )
    nz = d.filter(F.col("diff") != 0).select(
        F.abs(F.col("diff")).alias("ad"),
        F.when(F.col("diff") > 0, 1).otherwise(0).alias("isp"),
    )
    c = nz.groupBy("ad").agg(
        F.sum("isp").cast(_DEC).alias("cp"),
        F.sum(F.lit(1) - F.col("isp")).cast(_DEC).alias("cn"),
    )
    c = c.withColumn("t", F.col("cp") + F.col("cn"))
    p = global_prefix(c, ["ad"], {"cum": F.col("t")}, inclusive=False)
    totals = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("diff") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    rank2 = F.lit(2).cast(_DEC) * F.col("cum") + F.col("t") + F.lit(1)
    stats = p.agg(
        F.coalesce(F.sum(F.col("cp") * rank2), F.lit(0).cast(_DEC))
        .cast("bigint")
        .alias("w2_plus"),
        F.coalesce(F.sum(F.col("cn") * rank2), F.lit(0).cast(_DEC))
        .cast("bigint")
        .alias("w2_minus"),
        F.coalesce(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
            F.lit(0).cast(_DEC),
        )
        .cast("bigint")
        .alias("tie_term"),
    )
    return totals.crossJoin(F.broadcast(stats)).select(
        "n_pairs", "n_zero", "w2_plus", "w2_minus", "tie_term"
    )


@register(
    "anova_f_priority",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority AS grp,
               CAST(COUNT(*) AS HUGEINT) AS n_g,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS s_g,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)
                   * CAST(round(o_totalprice * 100) AS HUGEINT)) AS q_g
        FROM orders GROUP BY o_orderpriority),
    tot AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS k,
               SUM(n_g) AS n, SUM(s_g) AS s, SUM(q_g) AS q,
               SUM(CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                   * CAST(s_g AS DOUBLE)) AS sb
        FROM g)
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(n AS BIGINT) AS n_total,
           CAST(round((sb - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                            * CAST(s AS DOUBLE))
                      / (CAST(q AS DOUBLE) - sb)
                      * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                      / (CAST(k AS DOUBLE) - 1.0) * 1000000)
                AS BIGINT) AS f_ppm,
           CAST(round((sb - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                            * CAST(s AS DOUBLE))
                      / (CAST(q AS DOUBLE)
                         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                           * CAST(s AS DOUBLE)) * 1000000)
                AS BIGINT) AS eta2_ppm
    FROM tot
    """,
)
def anova_f_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five order priorities on order value
    — the parametric k-sample companion to Kruskal-Wallis (reference's
    consumers run exactly this class of between-cohort screen;
    consumer_emr_on_eks_setup.sh:407-418 models the query surface).
    Every moment (n, Σv, Σv²) accumulates as an EXACT integer in
    DECIMAL(38,0)/HUGEINT; only the final F and η² leave integer land,
    via ONE identical double expression on both engines — SSB =
    Σ s_g²/n_g − s²/n and SSW = Σ q_g − Σ s_g²/n_g spelled with the
    same operation order, ppm rounding absorbing the ≤5-term
    double-sum ulp (the nations_balance_spend_pearson absorb rule).

    Plan shape at 100 TB: one priority-keyed hash agg with map-side
    partials collapses the fact table to k=5 rows; the F-ratio is a
    1-row fold. No joins, no windows, one shuffle of 5 groups."""
    v = F.round(F.col("o_totalprice") * 100).cast(_DEC)
    g = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("grp"), v.alias("v"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast(_DEC).alias("n_g"),
            F.sum("v").alias("s_g"),
            F.sum(F.col("v") * F.col("v")).alias("q_g"),
        )
    )
    tot = g.agg(
        F.count(F.lit(1)).cast(_DEC).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.sum(
            F.col("s_g").cast("double")
            / F.col("n_g").cast("double")
            * F.col("s_g").cast("double")
        ).alias("sb"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    ssb = F.col("sb") - sd / nd * sd
    return tot.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        F.round(
            ssb / (qd - F.col("sb")) * (nd - kd) / (kd - F.lit(1.0))
            * 1000000
        )
        .cast("bigint")
        .alias("f_ppm"),
        F.round(ssb / (qd - sd / nd * sd) * 1000000)
        .cast("bigint")
        .alias("eta2_ppm"),
    )


@register(
    "mann_kendall_yearly_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               o_orderdate AS d,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS c
        FROM orders GROUP BY 1, 2),
    pairs AS (
        SELECT a.yr,
               CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS conc,
               CASE WHEN b.c < a.c THEN 1 ELSE 0 END AS disc
        FROM daily a JOIN daily b ON b.yr = a.yr AND b.d > a.d),
    nd AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_days
           FROM daily GROUP BY yr)
    SELECT p.yr, nd.n_days,
           CAST(SUM(p.conc) AS BIGINT) AS n_concordant,
           CAST(SUM(p.disc) AS BIGINT) AS n_discordant,
           CAST(SUM(p.conc) - SUM(p.disc) AS BIGINT) AS s_stat,
           CAST(SUM(1 - p.conc - p.disc) AS BIGINT) AS n_ties
    FROM pairs p JOIN nd ON nd.yr = p.yr
    GROUP BY p.yr, nd.n_days ORDER BY p.yr
    """,
)
def mann_kendall_yearly_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Kendall trend test of the daily revenue series, one
    statistic per calendar year — the distribution-free "is revenue
    trending?" screen (S > 0 rising, S < 0 falling; the rank cousin of
    the already-shipped Theil-Sen slope, theilsen_yearly_trend). S =
    Σ_{i<j} sign(x_j − x_i) plus the concordant/discordant/tie split
    a consumer needs for the variance term — all exact integers.

    Plan shape at 100 TB: the fact table collapses to ≤|calendar|
    daily rows in one hash agg; the pairwise comparison is a
    YEAR-equi-join whose fan-out is calendar-bounded (≤365·364/2 ≈
    66k pairs per year FOREVER, independent of row count — the
    theilsen_yearly_trend precedent, nonparam.py:342); the rollup is
    a ≤|years| hash agg. AQE splits any skewed year."""
    daily = materialize_once(
        load_table(spark, sf_dir, "orders")
        .select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.col("o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast(_DEC).alias("c"),
        )
        .groupBy("yr", "d")
        .agg(F.sum("c").alias("c"))
    )
    a = daily.select("yr", F.col("d").alias("da"), F.col("c").alias("ca"))
    b = daily.select("yr", F.col("d").alias("db"), F.col("c").alias("cb"))
    pairs = a.join(b, "yr").filter(F.col("db") > F.col("da"))
    conc = F.when(F.col("cb") > F.col("ca"), 1).otherwise(0)
    disc = F.when(F.col("cb") < F.col("ca"), 1).otherwise(0)
    per_yr = pairs.groupBy("yr").agg(
        F.sum(conc).cast("bigint").alias("n_concordant"),
        F.sum(disc).cast("bigint").alias("n_discordant"),
        (F.sum(conc) - F.sum(disc)).cast("bigint").alias("s_stat"),
        F.sum(F.lit(1) - conc - disc).cast("bigint").alias("n_ties"),
    )
    nd = daily.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return (
        per_yr.join(F.broadcast(nd), "yr")
        .select(
            "yr", "n_days", "n_concordant", "n_discordant", "s_stat",
            "n_ties",
        )
        .orderBy("yr")
    )


@register(
    "nation_revenue_theil",
    oracle="""
    WITH cust AS (
        SELECT o.o_custkey,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS HUGEINT))
                    AS DOUBLE) AS x,
               MAX(n.n_name) AS nation
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY o.o_custkey),
    tot AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM cust),
    means AS (
        SELECT nation, CAST(COUNT(*) AS HUGEINT) AS n_g, SUM(x) AS s_g
        FROM cust GROUP BY nation),
    grp AS (
        SELECT c.nation, MAX(m.n_g) AS n_g, MAX(m.s_g) AS s_g,
               SUM(c.x / (m.s_g / CAST(m.n_g AS DOUBLE))
                   * ln(c.x / (m.s_g / CAST(m.n_g AS DOUBLE)))) AS tsum
        FROM cust c JOIN means m ON m.nation = c.nation
        GROUP BY c.nation)
    SELECT nation,
           CAST(n_g AS BIGINT) AS n_cust,
           CAST(round(s_g / (SELECT s FROM tot) * 1000000) AS BIGINT)
               AS income_share_ppm,
           CAST(round(tsum / CAST(n_g AS DOUBLE) * 1000000) AS BIGINT)
               AS theil_within_micro,
           CAST(round(s_g / (SELECT s FROM tot)
                      * ln(s_g / (SELECT s FROM tot)
                           / (CAST(n_g AS DOUBLE)
                              / CAST((SELECT n FROM tot) AS DOUBLE)))
                      * 1000000) AS BIGINT) AS theil_between_micro
    FROM grp ORDER BY nation
    """,
)
def nation_revenue_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue, decomposed into
    within-nation and between-nation components — the additive
    inequality decomposition (T = Σ_g s_g·T_g + Σ_g s_g·ln(s_g/p_g))
    a marketplace runs to see WHERE revenue concentration lives. One
    row per nation: its within-group Theil (micro-nats) and its
    between-group term; the consumer folds the 25 rows. Per-row ln of
    exact-integer ratios, group sums micro-rounded — the
    nation_segment_entropy ln-parity absorb rule.

    Plan shape at 100 TB: one custkey hash agg collapses the fact
    table; customer→nation is a BROADCAST dim join; the decomposition
    is a 25-group hash agg over exact DECIMAL sums plus one 1-row
    broadcast total. The oracle's window-over-partition spelling and
    this plan's two-pass agg compute the SAME group mean double."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    cust = materialize_once(
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast(_DEC))
            .cast("double")
            .alias("x")
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(n),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("nation", "x")
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").alias("s"),
    )
    # group mean spelled s_g / n_g exactly as the oracle's window pair
    means = cust.groupBy("nation").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n_g"),
        F.sum("x").alias("s_g"),
    )
    mu = F.col("s_g") / F.col("n_g").cast("double")
    terms = (
        cust.join(F.broadcast(means), "nation")
        .select(
            "nation", "n_g", "s_g",
            (F.col("x") / mu * F.log(F.col("x") / mu)).alias("t"),
        )
        .groupBy("nation")
        .agg(
            F.max("n_g").alias("n_g"),
            F.max("s_g").alias("s_g"),
            F.sum("t").alias("tsum"),
        )
    )
    share = F.col("s_g") / F.col("s")
    pop = F.col("n_g").cast("double") / F.col("n").cast("double")
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("n_g").cast("bigint").alias("n_cust"),
            F.round(share * 1000000).cast("bigint").alias(
                "income_share_ppm"
            ),
            F.round(F.col("tsum") / F.col("n_g").cast("double") * 1000000)
            .cast("bigint")
            .alias("theil_within_micro"),
            F.round(share * F.log(share / pop) * 1000000)
            .cast("bigint")
            .alias("theil_between_micro"),
        )
        .orderBy("nation")
    )


@register(
    "orders_daily_acf_table",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS c
        FROM orders GROUP BY o_orderdate),
    lags AS (SELECT CAST(l AS BIGINT) AS lag
             FROM generate_series(1, 14) AS t(l)),
    pairs AS (
        SELECT lags.lag, a.c AS x, b.c AS y
        FROM daily a
        CROSS JOIN lags
        JOIN daily b ON b.d = a.d + lags.lag * INTERVAL 1 DAY),
    s AS (
        SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM pairs GROUP BY lag)
    SELECT lag, CAST(n AS BIGINT) AS n_pairs,
           CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
               * 1000000) AS BIGINT) AS acf_ppm
    FROM s ORDER BY lag
    """,
)
def orders_daily_acf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full autocorrelation TABLE of daily revenue at lags 1..14 —
    the correlogram a forecaster reads before fitting anything
    (weekly cadence shows up as a spike at lag 7; the already-shipped
    orders_daily_autocorr_lag1 is this table's first row, and
    orders_weekday_seasonality its explanation). Pearson at each lag
    over exact DECIMAL/HUGEINT moments; the ratio is one identical
    double expression, ppm-rounded.

    Plan shape at 100 TB: one orderdate hash agg collapses the fact
    table to ≤|calendar| rows; the 14-lag fan-out is a bounded ×14
    broadcast-join explode of that TINY frame (never of the facts);
    the pairing is an equi-join on the shifted date; the moment
    rollup is a ≤14-group agg. Identical skeleton at any scale."""
    daily = materialize_once(
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast(_DEC).alias("c"),
        )
        .groupBy("o_orderdate")
        .agg(F.sum("c").alias("c"))
    )
    lags = spark.range(1, 15).select(F.col("id").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags)).select(
        "lag",
        F.date_add(F.col("o_orderdate"), F.col("lag").cast("int")).alias(
            "d"
        ),
        F.col("c").alias("x"),
    )
    b = daily.select(F.col("o_orderdate").alias("d"), F.col("c").alias("y"))
    s = (
        a.join(b, "d")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast(_DEC).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return s.select(
        "lag",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(num / den * 1000000).cast("bigint").alias("acf_ppm"),
    ).orderBy("lag")


@register(
    "customer_churn_nelson_aalen",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS md FROM orders),
    cust AS (
        SELECT o_custkey,
               date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                   AS lifetime,
               CASE WHEN MAX(o_orderdate) <= (SELECT md FROM maxd)
                         - INTERVAL 90 DAY THEN 1 ELSE 0 END AS event
        FROM orders GROUP BY o_custkey),
    lt AS (SELECT lifetime, SUM(event) AS d, COUNT(*) AS m
           FROM cust GROUP BY lifetime),
    tot AS (SELECT SUM(m) AS n FROM lt),
    o AS (SELECT lifetime, d,
                 CAST((SELECT n FROM tot)
                      - COALESCE(SUM(m) OVER (ORDER BY lifetime
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM lt),
    s AS (SELECT lifetime, d, n_risk,
                 SUM(CASE WHEN d > 0 THEN
                         CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                     ELSE 0 END) OVER (ORDER BY lifetime
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS hsum
          FROM o)
    SELECT CAST(lifetime AS BIGINT) AS lifetime_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_churned,
           CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                      * 1000000) AS BIGINT) AS hazard_micro,
           CAST(round(hsum * 1000000) AS BIGINT) AS na_cum_micro
    FROM s WHERE d > 0
    """,
)
def customer_churn_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the SAME
    churn-lifetime frame as `customer_churn_kaplan_meier` — H(t) =
    Σ_{s≤t} d_s/n_s, the additive counterpart of KM's product limit
    (an analyst reads H's slope as the instantaneous churn rate;
    exp(−H) is the Breslow survival cross-check against KM's S). Per
    event day: the at-risk count, deaths, the row-local hazard d/n,
    and the cumulative H in rounded micro-units — the cumulative
    window fixes the summation ORDER (the KM ln-sum precedent), so
    both engines add the same doubles in the same sequence and micro
    rounding absorbs the distributed-offset ulp.

    Plan shape at 100 TB: identical to KM — one custkey hash agg, then
    everything keyed on calendar-bounded LIFETIME DAYS; the at-risk
    exclusive Σ and the hazard inclusive Σ both ride the distributed
    prefix idiom (range repartition + pid-local windows + K in-plan
    broadcast offsets; never an unpartitioned window)."""
    o2 = _churn_at_risk(spark, sf_dir)
    # hazard spelled CAST(d)/CAST(n_risk) — identical op order to the
    # oracle's window term
    h = F.when(
        F.col("d") > 0,
        F.col("d").cast("double") / F.col("n_risk").cast("double"),
    ).otherwise(F.lit(0.0))
    lwi = (
        Window.partitionBy("pid")
        .orderBy("lifetime")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o3 = materialize_once(
        o2.withColumn("h", h).withColumn("h_sum", F.sum("h").over(lwi))
    )
    # in-plan exclusive offsets (optimization r14): ascending-pid
    # sequential float fold, bit-equal to the old driver loop
    offs2 = _float_prefix_offsets(
        o3.groupBy("pid").agg(F.sum("h").alias("h_p")), "h_p"
    )
    s = o3.join(F.broadcast(offs2), "pid").withColumn(
        "hsum", F.col("__sum_off") + F.col("h_sum")
    )
    return s.filter(F.col("d") > 0).select(
        F.col("lifetime").cast("bigint").alias("lifetime_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("d_churned"),
        F.round(
            F.col("d").cast("double") / F.col("n_risk").cast("double")
            * 1000000
        )
        .cast("bigint")
        .alias("hazard_micro"),
        F.round(F.col("hsum") * 1000000).cast("bigint").alias(
            "na_cum_micro"
        ),
    )


@register(
    "runs_test_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS c
        FROM orders GROUP BY o_orderdate),
    med AS (
        SELECT c AS mc FROM daily ORDER BY c, d
        LIMIT 1 OFFSET (SELECT CAST(ceil(COUNT(*) / 2.0) AS BIGINT) - 1
                        FROM daily)),
    kept AS (
        SELECT d, CASE WHEN c > (SELECT mc FROM med) THEN 1 ELSE 0 END AS s
        FROM daily WHERE c <> (SELECT mc FROM med)),
    seq AS (SELECT s, lag(s) OVER (ORDER BY d) AS sp FROM kept),
    agg AS (
        SELECT CAST(SUM(CASE WHEN sp IS NULL OR s <> sp THEN 1 ELSE 0 END)
                    AS BIGINT) AS r,
               CAST(SUM(s) AS BIGINT) AS n1,
               CAST(SUM(1 - s) AS BIGINT) AS n2
        FROM seq)
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           CAST(round(
               (CAST(r AS DOUBLE)
                - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
               / sqrt(2.0 * n1 * n2
                      * (2.0 * n1 * n2 - (n1 + n2))
                      / (CAST(n1 + n2 AS DOUBLE)
                         * (n1 + n2) * (n1 + n2 - 1)))
               * 1000000) AS BIGINT) AS z_ppm
    FROM agg
    """,
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue series: is the
    above/below-median sequence RANDOM, or does it clump (trend /
    regime persistence → too few runs, z < 0) or oscillate (negative
    autocorrelation → too many runs, z > 0)? The distribution-free
    companion to orders_daily_acf_table: the ACF measures HOW MUCH
    adjacent days co-move, the runs test asks whether the binary
    above/below pattern could be i.i.d. at all. Classical recipe:
    split at the (lower) median, DROP days equal to it, count maximal
    same-sign runs R; z = (R − μ)/σ with μ = 2n₁n₂/n + 1 and
    σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n − 1)).

    Plan shape at 100 TB: the fact table collapses to ≤|calendar|
    daily rows in ONE hash agg; the median is an exact order
    statistic (exact_order_statistics — range repartition + K
    per-partition counts, never a global sort); run counting needs
    only ADJACENT-day sign pairs, so days get exact positional
    indexes via the distributed rank idiom (skew.global_prefix) and
    ONE self-join on idx = idx+1 counts sign changes — no
    single-partition window
    anywhere. The z fold is a 1-row aggregate of exact integers;
    ppm rounding absorbs the shared-double ulp."""
    daily = materialize_once(
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast(_DEC).alias("c"),
        )
        .groupBy("d")
        .agg(F.sum("c").alias("c"))
    )
    stats = exact_order_statistics(daily, ["c", "d"], [(1, 2)])
    if not stats:
        # no days: the oracle's aggregates over empty sets are all NULL
        return spark.createDataFrame(
            [(None, None, None, None)],
            "n_above bigint, n_below bigint, n_runs bigint, z_ppm bigint",
        )
    [(_, _, med_row)] = stats
    mc = int(med_row["c"])
    kept = daily.filter(F.col("c") != mc).select(
        "d",
        F.when(F.col("c") > mc, 1).otherwise(0).alias("s"),
    )
    idx = materialize_once(
        global_prefix(kept, ["d"], {"i": F.lit(1)}).select("i", "s")
    )
    prev = idx.select((F.col("i") + 1).alias("i"), F.col("s").alias("sp"))
    changes = (
        idx.join(prev, "i")
        .agg(
            F.sum(
                F.when(F.col("s") != F.col("sp"), 1).otherwise(0)
            ).alias("chg")
        )
    )
    counts = idx.agg(
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).cast("bigint").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    # degenerate input (every day equals the median → kept is empty):
    # the oracle's SUM over an empty set is NULL, so n_runs must be
    # NULL too, not coalesce(chg,0)+1 = 1 (ADVICE r13)
    runs = (
        F.when(n > 0, F.coalesce(F.col("chg"), F.lit(0)) + 1).cast("bigint")
    )
    mu = F.lit(2.0) * n1 * n2 / n + F.lit(1.0)
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n)
        / (n.cast("double") * n * (n - 1))
    )
    return counts.crossJoin(F.broadcast(changes)).select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        runs.alias("n_runs"),
        F.round((runs.cast("double") - mu) / F.sqrt(var) * 1000000)
        .cast("bigint")
        .alias("z_ppm"),
    )


@register(
    "customers_atkinson_index",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS xc
        FROM orders GROUP BY o_custkey),
    agg AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(xc) AS s,
               SUM(ln(CAST(xc AS DOUBLE))) AS sln
        FROM cust)
    SELECT CAST(n AS BIGINT) AS n_cust,
           CAST(round(
               (ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                - sln / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
               AS mld_micro,
           CAST(round(
               (1.0 - exp(sln / CAST(n AS DOUBLE))
                      / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
               * 1000000) AS BIGINT) AS atkinson_ppm
    FROM agg
    """,
)
def customers_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (ε = 1) of customer revenue —
    A = 1 − gmean/mean — plus the mean log deviation (Theil L,
    MLD = ln(mean) − mean(ln x)) it exponentiates. Completes the
    inequality shelf: Gini (customers_gini_revenue) weights by rank,
    Theil T (nation_revenue_theil) weights by income share, Atkinson/
    MLD weights every person equally — the welfare-theoretic member
    with an explicit aversion parameter. One row.

    Plan shape at 100 TB: ONE custkey hash agg collapses the fact
    table (map-side partials), then ONE 1-row aggregate carrying
    three accumulators — exact HUGEINT/DECIMAL n and Σx plus the
    order-dependent Σln(x) double whose ulp noise the micro/ppm
    rounding absorbs (the nation_revenue_theil ln-parity rule;
    exp(Σln/n) amplifies a ~1e-12 sum ulp to ~1e-10 relative — six
    orders below the ppm grid). No joins, no windows, no shuffle
    beyond the two hash aggs."""
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast(_DEC))
            .alias("xc")
        )
        .select(F.col("xc").cast("double").alias("x"), F.col("xc"))
    )
    agg = cust.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("xc").alias("s"),
        F.sum(F.log("x")).alias("sln"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n_d
    mean_ln = F.col("sln") / n_d
    return agg.select(
        F.col("n").cast("bigint").alias("n_cust"),
        F.round((F.log(mean) - mean_ln) * 1000000)
        .cast("bigint")
        .alias("mld_micro"),
        F.round((F.lit(1.0) - F.exp(mean_ln) / mean) * 1000000)
        .cast("bigint")
        .alias("atkinson_ppm"),
    )


@register(
    "events_fano_dispersion",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS HUGEINT) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
    per AS (
        SELECT event_type,
               CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS HUGEINT)
                   AS n_span,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               SUM(x) AS sx, SUM(x * x) AS sxx
        FROM daily GROUP BY event_type)
    SELECT event_type,
           CAST(n_span AS BIGINT) AS n_days_span,
           n_active AS n_days_active,
           CAST(sx AS BIGINT) AS n_events,
           CASE WHEN n_span > 1 THEN CAST(round(
               CAST(n_span * sxx - sx * sx AS DOUBLE)
               / (CAST(n_span AS DOUBLE) * (CAST(n_span AS DOUBLE) - 1.0))
               / (CAST(sx AS DOUBLE) / CAST(n_span AS DOUBLE))
               * 1000000) AS BIGINT) END AS fano_ppm
    FROM per ORDER BY event_type
    """,
)
def events_fano_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of the daily event count
    per event type — the overdispersion screen: a Poisson arrival
    stream has F ≈ 1, bursty/clumped traffic F ≫ 1, a rate-limited or
    quota'd stream F < 1. The day grid is each type's OBSERVED
    calendar span (min..max event date); days inside the span with no
    events count as exact zeros without ever materializing a row —
    zero days contribute nothing to Σx or Σx², so only the span
    length enters the moments. Sample variance over the span,
    var = (n·Σx² − (Σx)²)/(n·(n−1)), F = var/mean, in ppm.

    Plan shape at 100 TB: ONE (type, day) hash agg collapses the
    event stream (map-side partials), then a ≤|event types| hash agg
    folds exact integer moments; the Fano expression is one shared
    double formula over those integers — ppm absorbs the cast ulp.
    Two aggs, zero joins, zero windows, calendar-bounded group
    count."""
    daily = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast(_DEC).alias("x"))
    )
    per = daily.groupBy("event_type").agg(
        (F.datediff(F.max("d"), F.min("d")) + 1).cast(_DEC).alias("n_span"),
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_span_d = F.col("n_span").cast("double")
    var = (
        (F.col("n_span") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        / (n_span_d * (n_span_d - F.lit(1.0)))
    )
    mean = F.col("sx").cast("double") / n_span_d
    return per.select(
        "event_type",
        F.col("n_span").cast("bigint").alias("n_days_span"),
        F.col("n_active").alias("n_days_active"),
        F.col("sx").cast("bigint").alias("n_events"),
        # a type whose events all land on ONE day has n_span = 1 →
        # 0/0; emit NULL on both engines instead of a NaN the oracle
        # canonicalizer would diverge on
        F.when(
            F.col("n_span") > 1,
            F.round(var / mean * 1000000).cast("bigint"),
        ).alias("fano_ppm"),
    ).orderBy("event_type")


@register(
    "customer_mahalanobis_outliers",
    oracle="""
    WITH pts AS (
        SELECT c.c_custkey AS k,
               CAST(round(c.c_acctbal * 100) AS HUGEINT) AS xc,
               SUM(CAST(round(o.o_totalprice * 100) AS HUGEINT)) AS yc,
               CAST(CAST(round(c.c_acctbal * 100) AS HUGEINT) AS DOUBLE)
                   AS x,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS HUGEINT))
                    AS DOUBLE) AS y
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(xc) AS DOUBLE) AS sx,
               CAST(SUM(yc) AS DOUBLE) AS sy,
               CAST(SUM(xc * xc) AS DOUBLE) AS sxx,
               CAST(SUM(yc * yc) AS DOUBLE) AS syy,
               CAST(SUM(xc * yc) AS DOUBLE) AS sxy
        FROM pts),
    d AS (
        SELECT k,
               ((x - sx / n) * (x - sx / n)
                    / ((n * sxx - sx * sx) / (n * (n - 1)))
                - 2 * ((n * sxy - sx * sy)
                       / sqrt(n * sxx - sx * sx)
                       / sqrt(n * syy - sy * sy))
                    * (x - sx / n) * (y - sy / n)
                    / sqrt((n * sxx - sx * sx) / (n * (n - 1)))
                    / sqrt((n * syy - sy * sy) / (n * (n - 1)))
                + (y - sy / n) * (y - sy / n)
                    / ((n * syy - sy * sy) / (n * (n - 1))))
               / (1 - ((n * sxy - sx * sy)
                       / sqrt(n * sxx - sx * sx)
                       / sqrt(n * syy - sy * sy))
                    * ((n * sxy - sx * sy)
                       / sqrt(n * sxx - sx * sx)
                       / sqrt(n * syy - sy * sy))) AS d2
        FROM pts CROSS JOIN m)
    SELECT k AS c_custkey,
           CAST(round(d2 * 1000000) AS BIGINT) AS d2_micro
    FROM d ORDER BY d2 DESC, k LIMIT 10
    """,
)
def customer_mahalanobis_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 bivariate Mahalanobis outliers over (account balance,
    lifetime spend) — the multivariate outlier screen an ML-prep
    pipeline runs before fitting on tabular features: a customer can
    be unremarkable on each axis yet far from the joint distribution
    (high balance + low spend). Sample covariance from exact integer
    moments, closed-form 2×2 inverse:
    d² = (z_x² − 2ρ·z_x·z_y + z_y²)/(1 − ρ²).

    Plan shape at 100 TB: ONE custkey hash agg collapses the fact
    table (map-side partials) and joins the customer dim on the same
    key; the six moments fold in ONE 1-row aggregate of exact
    DECIMAL(38,0); every per-row d² is row-local IEEE arithmetic over
    the BROADCAST 1-row moment frame — identical doubles on any
    engine since the inputs are exact integers cast once — and the
    top-10 is a TakeOrderedAndProject with the (d², custkey)
    tie-break. No windows, one shuffle, K=10 driver rows."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast(_DEC).alias("xc"),
    )
    pts = materialize_once(
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast(_DEC))
            .alias("yc")
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("k"),
            F.col("xc").cast("double").alias("x"),
            F.col("yc").cast("double").alias("y"),
            "xc",
            "yc",
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("xc").cast("double").alias("sx"),
        F.sum("yc").cast("double").alias("sy"),
        F.sum(F.col("xc") * F.col("xc")).cast("double").alias("sxx"),
        F.sum(F.col("yc") * F.col("yc")).cast("double").alias("syy"),
        F.sum(F.col("xc") * F.col("yc")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    dx = F.col("x") - sx / n
    dy = F.col("y") - sy / n
    varx = (n * sxx - sx * sx) / (n * (n - 1))
    vary = (n * syy - sy * sy) / (n * (n - 1))
    rho = (
        (n * sxy - sx * sy)
        / F.sqrt(n * sxx - sx * sx)
        / F.sqrt(n * syy - sy * sy)
    )
    d2 = (
        dx * dx / varx
        - F.lit(2) * rho * dx * dy / F.sqrt(varx) / F.sqrt(vary)
        + dy * dy / vary
    ) / (F.lit(1) - rho * rho)
    return (
        pts.crossJoin(F.broadcast(m))
        .select(F.col("k").alias("c_custkey"), d2.alias("d2"))
        .orderBy(F.col("d2").desc(), "c_custkey")
        .limit(10)
        .select(
            "c_custkey",
            F.round(F.col("d2") * 1000000).cast("bigint").alias("d2_micro"),
        )
    )


@register(
    "customer_churn_logrank_segment",
    oracle="""
    WITH md AS (SELECT MAX(o_orderdate) AS md FROM orders),
    cust AS (
        SELECT date_diff('day', MIN(o.o_orderdate), MAX(o.o_orderdate))
                   AS lifetime,
               CASE WHEN MAX(o.o_orderdate) <= (SELECT md FROM md)
                                               - INTERVAL 90 DAY
                    THEN 1 ELSE 0 END AS event,
               CASE WHEN MAX(c.c_mktsegment) = 'BUILDING'
                    THEN 1 ELSE 0 END AS g
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY o.o_custkey),
    lt AS (SELECT lifetime, g, CAST(SUM(event) AS BIGINT) AS d,
                  CAST(COUNT(*) AS BIGINT) AS m
           FROM cust GROUP BY lifetime, g),
    grid AS (
        SELECT t.lifetime, gg.g,
               COALESCE(lt.d, 0) AS d, COALESCE(lt.m, 0) AS m
        FROM (SELECT DISTINCT lifetime FROM lt) t
        CROSS JOIN (SELECT 0 AS g UNION ALL SELECT 1) gg
        LEFT JOIN lt ON lt.lifetime = t.lifetime AND lt.g = gg.g),
    risk AS (
        SELECT lifetime, g, d, m,
               SUM(m) OVER (PARTITION BY g) -
               COALESCE(SUM(m) OVER (PARTITION BY g ORDER BY lifetime
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS n_risk
        FROM grid),
    per_t AS (
        SELECT lifetime,
               SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS d1,
               SUM(d) AS dt,
               SUM(CASE WHEN g = 1 THEN n_risk ELSE 0 END) AS n1,
               SUM(n_risk) AS nt
        FROM risk GROUP BY lifetime),
    agg AS (
        SELECT CAST(SUM(d1) AS BIGINT) AS o1,
               SUM(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
                   / CAST(nt AS DOUBLE)) AS e1,
               SUM(CASE WHEN nt > 1
                   THEN CAST(dt AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
                        * (CAST(nt - n1 AS DOUBLE) / CAST(nt AS DOUBLE))
                        * (CAST(nt - dt AS DOUBLE)
                           / CAST(nt - 1 AS DOUBLE))
                   ELSE 0e0 END) AS v
        FROM per_t WHERE nt > 0)
    SELECT o1 AS observed_building,
           CAST(round(e1 * 1000000) AS BIGINT) AS expected_micro,
           CAST(round(v * 1000000) AS BIGINT) AS variance_micro,
           CAST(round((CAST(o1 AS DOUBLE) - e1)
                      * (CAST(o1 AS DOUBLE) - e1) / v * 1000000)
                AS BIGINT) AS chi2_ppm
    FROM agg
    """,
)
def customer_churn_logrank_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-rank test (Mantel-Cox) comparing churn survival between the
    BUILDING segment and everyone else — the inference leg of the
    survival shelf (Kaplan-Meier/Nelson-Aalen ESTIMATE per-group
    curves; log-rank answers "are the two curves the SAME?"). Same
    lifetime/event convention as `customer_churn_kaplan_meier` (last
    order ≥90 days before corpus end = observed churn). At each
    lifetime day: O−E for group 1 under the hypergeometric null
    (E = d_t·n1_t/n_t) and its variance; χ² = (ΣO−ΣE)²/ΣV with 1 df.
    Counts stay integers until ONE identical double fold on both
    engines; micro/ppm rounding absorbs ulp.

    Plan shape at 100 TB: one (custkey) hash agg + a custkey-keyed
    join to customer collapse the fact tables; everything after is
    keyed on LIFETIME DAYS × 2 groups — calendar-bounded (≤ corpus
    span rows per group FOREVER), so the per-group running at-risk
    window is a bounded-partition window (partitioned by group; never
    data-sized — the partition holds at most one row per calendar
    day)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", F.lit(1))
        .otherwise(F.lit(0))
        .alias("g"),
    )
    maxd = o.agg(F.max("o_orderdate").alias("md"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .crossJoin(F.broadcast(maxd))
        .select(
            F.datediff("last_d", "first_d").alias("lifetime"),
            F.when(F.col("last_d") <= F.date_sub(F.col("md"), 90), F.lit(1))
            .otherwise(F.lit(0))
            .alias("event"),
            "g",
        )
    )
    lt = materialize_once(
        cust.groupBy("lifetime", "g").agg(
            F.sum("event").cast("bigint").alias("d"),
            F.count(F.lit(1)).cast("bigint").alias("m"),
        )
    )
    both_g = lt.sparkSession.createDataFrame([(0,), (1,)], "g int")
    grid = (
        lt.select("lifetime")
        .distinct()
        .crossJoin(F.broadcast(both_g))
        .join(lt, ["lifetime", "g"], "left")
        .select(
            "lifetime",
            "g",
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
            F.coalesce(F.col("m"), F.lit(0)).alias("m"),
        )
    )
    w_tot = Window.partitionBy("g")
    w_prior = (
        Window.partitionBy("g")
        .orderBy("lifetime")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = grid.withColumn(
        "n_risk",
        F.sum("m").over(w_tot)
        - F.coalesce(F.sum("m").over(w_prior), F.lit(0)),
    )
    per_t = risk.groupBy("lifetime").agg(
        F.sum(F.when(F.col("g") == 1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum("d").alias("dt"),
        F.sum(F.when(F.col("g") == 1, F.col("n_risk")).otherwise(0)).alias(
            "n1"
        ),
        F.sum("n_risk").alias("nt"),
    )
    dt, n1, nt = (F.col(x).cast("double") for x in ("dt", "n1", "nt"))
    agg = per_t.filter(F.col("nt") > 0).agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(dt * n1 / nt).alias("e1"),
        F.sum(
            F.when(
                F.col("nt") > 1,
                dt
                * (n1 / nt)
                * ((nt - n1) / nt)
                * ((nt - dt) / (nt - F.lit(1.0))),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    o1d = F.col("o1").cast("double")
    return agg.select(
        F.col("o1").alias("observed_building"),
        F.round(F.col("e1") * 1000000).cast("bigint").alias("expected_micro"),
        F.round(F.col("v") * 1000000).cast("bigint").alias("variance_micro"),
        F.round((o1d - F.col("e1")) * (o1d - F.col("e1")) / F.col("v") * 1000000)
        .cast("bigint")
        .alias("chi2_ppm"),
    )


@register(
    "friedman_priority_by_year",
    oracle="""
    WITH obs AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               o_orderpriority AS trt,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS v
        FROM orders GROUP BY yr, trt),
    kk AS (SELECT COUNT(DISTINCT trt) AS k FROM obs),
    blocks AS (SELECT yr FROM obs GROUP BY yr
               HAVING COUNT(*) = (SELECT k FROM kk)),
    ranked AS (
        SELECT o.yr, o.trt,
               2 * RANK() OVER (PARTITION BY o.yr ORDER BY o.v)
               + COUNT(*) OVER (PARTITION BY o.yr, o.v) - 1 AS dr
        FROM obs o JOIN blocks b ON b.yr = o.yr),
    nn AS (SELECT CAST(COUNT(DISTINCT yr) AS HUGEINT) AS n,
                  CAST((SELECT k FROM kk) AS HUGEINT) AS k,
                  SUM(CAST(dr AS HUGEINT) * dr) AS q2
           FROM ranked),
    rsum AS (SELECT trt, CAST(SUM(dr) AS HUGEINT) AS r2 FROM ranked
             GROUP BY trt),
    s AS (SELECT SUM((r2 - (SELECT n * (k + 1) FROM nn))
                     * (r2 - (SELECT n * (k + 1) FROM nn))) AS s2
          FROM rsum)
    SELECT r.trt AS o_orderpriority,
           CAST(r.r2 AS BIGINT) AS rank_sum_doubled,
           CAST((SELECT n FROM nn) AS BIGINT) AS n_blocks,
           CAST(((SELECT k FROM nn) - 1) * 1000000 * (SELECT s2 FROM s)
                // ((SELECT q2 FROM nn)
                    - (SELECT n * k * (k + 1) * (k + 1) FROM nn))
                AS BIGINT) AS q_ppm
    FROM rsum r
    """,
)
def friedman_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the k-related-samples rank test that completes
    the nonparametric family (Mann-Whitney: 2 independent samples;
    Kruskal-Wallis: k independent; Wilcoxon: 2 paired; Friedman: k
    paired/blocked). Blocks are order YEARS, treatments the five
    priorities, observations the year×priority revenue; within each
    block the treatments are ranked and Q asks whether some priority
    systematically out-ranks the others across years. Doubled
    average-tie ranks keep everything integer (the spearman idiom:
    dr = 2·rank + ties − 1); the tie-corrected statistic
    Q = (k−1)·Σ_j(2R_j − n(k+1))² / (Σ(dr²) − nk(k+1)²) is one exact
    integer division to ppm — identical floors on both engines.
    Incomplete blocks (a year missing a priority) are excluded, the
    standard complete-block requirement.

    Plan shape at 100 TB: ONE (year, priority) hash agg with map-side
    partials collapses the fact table to ≤ years×k rows; ranking is a
    window over ≤k rows per block; the fold is a k-row aggregate. No
    joins against facts, one shuffle."""
    obs = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.col("o_orderpriority").alias("trt"),
            F.round(F.col("o_totalprice") * 100).cast(_DEC).alias("cents"),
        )
        .groupBy("yr", "trt")
        .agg(F.sum("cents").alias("v"))
    )
    obs = materialize_once(obs)
    kk = obs.agg(F.countDistinct("trt").cast("bigint").alias("k"))
    blocks = (
        obs.crossJoin(F.broadcast(kk))
        .groupBy("yr")
        .agg(F.count(F.lit(1)).alias("nt"), F.first("k").alias("k"))
        .filter(F.col("nt") == F.col("k"))
        .select("yr")
    )
    w_rank = Window.partitionBy("yr").orderBy("v")
    w_tie = Window.partitionBy("yr", "v")
    ranked = (
        obs.join(F.broadcast(blocks), "yr")
        .withColumn(
            "dr",
            (
                F.lit(2) * F.rank().over(w_rank)
                + F.count(F.lit(1)).over(w_tie)
                - F.lit(1)
            ).cast(_DEC),
        )
    )
    nn = ranked.agg(
        F.countDistinct("yr").cast(_DEC).alias("n"),
        F.sum(F.col("dr") * F.col("dr")).alias("q2"),
    ).crossJoin(F.broadcast(kk.select(F.col("k").cast(_DEC).alias("k"))))
    rsum = ranked.groupBy("trt").agg(F.sum("dr").alias("r2"))
    s = rsum.crossJoin(F.broadcast(nn)).agg(
        F.sum(
            (F.col("r2") - F.col("n") * (F.col("k") + 1))
            * (F.col("r2") - F.col("n") * (F.col("k") + 1))
        ).alias("s2"),
        F.first("n").alias("n"),
        F.first("k").alias("k"),
        F.first("q2").alias("q2"),
    )
    return (
        rsum.crossJoin(F.broadcast(s))
        .select(
            F.col("trt").alias("o_orderpriority"),
            F.col("r2").cast("bigint").alias("rank_sum_doubled"),
            F.col("n").cast("bigint").alias("n_blocks"),
            F.expr(
                "CAST((k - 1) * 1000000 * s2 div "
                "(q2 - n * k * (k + 1) * (k + 1)) AS BIGINT)"
            ).alias("q_ppm"),
        )
    )


@register(
    "lineitem_cmh_discount_returns",
    oracle="""
    WITH s AS (
        SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
               CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_discount >= 0.05
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_discount < 0.05
                             THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_discount >= 0.05
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_discount < 0.05
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM lineitem GROUP BY yr),
    f AS (
        SELECT COUNT(*) AS k,
               SUM(a) AS sum_a,
               SUM(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                   / CAST(a + b + c + d AS DOUBLE)) AS e,
               SUM(CASE WHEN a + b + c + d > 1
                   THEN CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                        * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
                        / (CAST(a + b + c + d AS DOUBLE)
                           * CAST(a + b + c + d AS DOUBLE)
                           * CAST(a + b + c + d - 1 AS DOUBLE))
                   ELSE 0e0 END) AS v,
               SUM(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                   / CAST(a + b + c + d AS DOUBLE)) AS r,
               SUM(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                   / CAST(a + b + c + d AS DOUBLE)) AS ss
        FROM s)
    SELECT CAST(k AS BIGINT) AS k_strata,
           CAST(sum_a AS BIGINT) AS sum_a,
           CAST(round(e * 1000000) AS BIGINT) AS expected_micro,
           CAST(round(v * 1000000) AS BIGINT) AS variance_micro,
           CAST(round((CAST(sum_a AS DOUBLE) - e)
                      * (CAST(sum_a AS DOUBLE) - e) / v * 1000000)
                AS BIGINT) AS cmh_ppm,
           CAST(round(r / ss * 1000) AS BIGINT) AS or_mh_milli
    FROM f
    """,
)
def lineitem_cmh_discount_returns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified association — does a deep
    discount (≥5%) associate with returns AFTER conditioning on ship
    year? The χ² independence test pools strata and falls for
    Simpson's paradox; CMH sums the per-stratum hypergeometric O−E and
    variance (the SAME machinery as the log-rank test — log-rank IS
    CMH over event-time strata) and adds the Mantel-Haenszel common
    odds ratio Σ(a·d/n)/Σ(b·c/n). All 2×2×K cell counts are exact
    integers from ONE hash agg; the fold is identical doubles both
    engines, micro/ppm/milli rounded.

    Plan shape at 100 TB: ONE (year) hash agg with four conditional
    sums collapses the fact table to K calendar-bounded stratum rows;
    the statistic is a 1-row fold. No joins, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    ret = F.col("l_returnflag") == "R"
    dis = F.col("l_discount") >= 0.05
    cell = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("bigint")  # noqa: E731
    s = li.groupBy(F.year("l_shipdate").cast("bigint").alias("yr")).agg(
        cell(ret & dis).alias("a"),
        cell(ret & ~dis).alias("b"),
        cell(~ret & dis).alias("c"),
        cell(~ret & ~dis).alias("d"),
    )
    d_ = lambda e: e.cast("double")  # noqa: E731
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    f = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum(
            d_(F.col("a") + F.col("b")) * d_(F.col("a") + F.col("c")) / d_(n)
        ).alias("e"),
        F.sum(
            F.when(
                n > 1,
                d_(F.col("a") + F.col("b"))
                * d_(F.col("c") + F.col("d"))
                * d_(F.col("a") + F.col("c"))
                * d_(F.col("b") + F.col("d"))
                / (d_(n) * d_(n) * d_(n - 1)),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
        F.sum(d_(F.col("a")) * d_(F.col("d")) / d_(n)).alias("r"),
        F.sum(d_(F.col("b")) * d_(F.col("c")) / d_(n)).alias("ss"),
    )
    oe = F.col("sum_a").cast("double") - F.col("e")
    return f.select(
        F.col("k").alias("k_strata"),
        F.col("sum_a"),
        F.round(F.col("e") * 1000000).cast("bigint").alias("expected_micro"),
        F.round(F.col("v") * 1000000).cast("bigint").alias("variance_micro"),
        F.round(oe * oe / F.col("v") * 1000000).cast("bigint").alias("cmh_ppm"),
        F.round(F.col("r") / F.col("ss") * 1000)
        .cast("bigint")
        .alias("or_mh_milli"),
    )


@register(
    "nation_return_fdr",
    oracle="""
    WITH base AS (
        SELECT n.n_name AS nation,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey),
    per AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(ret) AS BIGINT) AS n_returned
        FROM base GROUP BY nation),
    tot AS (
        SELECT CAST(SUM(n_items) AS BIGINT) AS n_tot,
               CAST(SUM(n_returned) AS BIGINT) AS x_tot
        FROM per),
    zp AS (
        SELECT p.nation, p.n_items, p.n_returned,
               CASE WHEN t.n_tot - p.n_items > 0
                         AND t.x_tot > 0 AND t.x_tot < t.n_tot
                    THEN (CAST(p.n_returned AS DOUBLE) / p.n_items
                          - CAST(t.x_tot - p.n_returned AS DOUBLE)
                            / (t.n_tot - p.n_items))
                         / sqrt((CAST(t.x_tot AS DOUBLE) / t.n_tot)
                                * (1.0 - CAST(t.x_tot AS DOUBLE) / t.n_tot)
                                * (1.0 / p.n_items
                                   + 1.0 / (t.n_tot - p.n_items)))
                    ELSE NULL END AS z
        FROM per p CROSS JOIN tot t),
    pv AS (
        SELECT nation, n_items, n_returned,
               CAST(round(z * 1000000) AS BIGINT) AS z_micro,
               CAST(round(
                   (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
                   * (0.254829592
                      + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
                        * (-0.284496736
                           + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
                             * (1.421413741
                                + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
                                  * (-1.453152027
                                     + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
                                       * 1.061405429))))
                   * exp(-(abs(z) / sqrt(2.0)) * (abs(z) / sqrt(2.0)))
                   * 1000000) AS BIGINT) AS p_ppm
        FROM zp),
    mt AS (SELECT CAST(COUNT(p_ppm) AS BIGINT) AS m FROM pv),
    rk AS (
        SELECT a.nation, MIN(a.n_items) AS n_items,
               MIN(a.n_returned) AS n_returned, MIN(mt.m) AS m,
               MIN(a.z_micro) AS z_micro, MIN(a.p_ppm) AS p_ppm,
               CASE WHEN MIN(a.p_ppm) IS NULL THEN NULL
                    ELSE CAST(SUM(CASE WHEN b.p_ppm IS NOT NULL
                                       AND (b.p_ppm < a.p_ppm
                                            OR (b.p_ppm = a.p_ppm
                                                AND b.nation <= a.nation))
                                       THEN 1 ELSE 0 END) AS BIGINT)
               END AS p_rank
        FROM pv a CROSS JOIN pv b CROSS JOIN mt
        GROUP BY a.nation),
    raw AS (
        SELECT *, CASE WHEN p_rank IS NULL THEN NULL
                       ELSE LEAST(1000000,
                                  CAST(p_ppm * m // p_rank AS BIGINT))
                  END AS raw_adj
        FROM rk)
    SELECT a.nation, MIN(a.n_items) AS n_items,
           MIN(a.n_returned) AS n_returned,
           MIN(a.z_micro) AS z_micro, MIN(a.p_ppm) AS p_ppm,
           MIN(a.p_rank) AS p_rank,
           CAST(MIN(b.raw_adj) AS BIGINT) AS bh_adj_ppm,
           CAST(MIN(b.raw_adj) <= 50000 AS BOOLEAN) AS significant_q05
    FROM raw a LEFT JOIN raw b ON b.p_rank >= a.p_rank
    GROUP BY a.nation
    """,
)
def nation_return_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR screen over per-nation return rates —
    the multiple-testing correction a data-quality sweep applies when
    it tests every segment at once (25 nations → 25 hypotheses; raw
    p < 0.05 would false-flag ~1 nation by chance alone). Per nation:
    the two-proportion pooled z vs the rest of the corpus, the
    two-sided normal p-value via the Abramowitz-Stegun 7.1.26 erfc
    polynomial (|err| ≤ 1.5e-7 — the same closed form evaluated on
    both engines; exp/sqrt ulp absorbed by ppm rounding), then the BH
    step-up computed ENTIRELY in integers on the ppm p-values:
    rank by (p_ppm, nation), raw_j = min(1e6, p_ppm_j·m div rank_j),
    adj_i = min over rank_j ≥ rank_i — so the adjusted values and the
    q=0.05 flags are engine-exact. The output is TOTAL over nations:
    a degenerate test (a nation holding the whole corpus, or a corpus
    with zero/all returns) keeps its row with NULL z/p/rank/adjusted
    columns, and the BH divisor m counts only the testable
    hypotheses.

    Plan shape at 100 TB: one fact-collapse hash agg behind broadcast
    dim joins (the theil/pearson idiom); everything after is a
    ≤|nations|-row frame — rank and the step-up suffix-min are
    bounded broadcast triangular self-joins, never a global window."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    per = materialize_once(
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("n_returned"),
        )
    )
    tot = per.agg(
        F.sum("n_items").cast("bigint").alias("n_tot"),
        F.sum("n_returned").cast("bigint").alias("x_tot"),
    )
    testable = (
        (F.col("n_tot") - F.col("n_items") > 0)
        & (F.col("x_tot") > 0)
        & (F.col("x_tot") < F.col("n_tot"))
    )
    zf = (
        F.col("n_returned").cast("double") / F.col("n_items")
        - (F.col("x_tot") - F.col("n_returned")).cast("double")
        / (F.col("n_tot") - F.col("n_items"))
    ) / F.sqrt(
        (F.col("x_tot").cast("double") / F.col("n_tot"))
        * (F.lit(1.0) - F.col("x_tot").cast("double") / F.col("n_tot"))
        * (
            F.lit(1.0) / F.col("n_items")
            + F.lit(1.0) / (F.col("n_tot") - F.col("n_items"))
        )
    )
    zp = per.crossJoin(F.broadcast(tot)).withColumn(
        "z", F.when(testable, zf)
    )
    # A&S 7.1.26: erfc(x) = t·(a1 + t·(a2 + t·(a3 + t·(a4 + t·a5))))·e^(−x²),
    # t = 1/(1 + 0.3275911·x); two-sided p = erfc(|z|/√2). Spelled with
    # the SAME nesting as the oracle so both engines run the identical
    # IEEE-754 op sequence; NULL z propagates to NULL p.
    x = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t
            * (
                F.lit(1.421413741)
                + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
            )
        )
    )
    pv = materialize_once(
        zp.select(
            "nation",
            "n_items",
            "n_returned",
            F.round(F.col("z") * 1000000).cast("bigint").alias("z_micro"),
            F.round(poly * F.exp(-x * x) * 1000000)
            .cast("bigint")
            .alias("p_ppm"),
        )
    )
    # m counts only the testable hypotheses (COUNT skips NULL p)
    mt = pv.agg(F.count("p_ppm").cast("bigint").alias("m"))
    b = pv.select(
        F.col("nation").alias("nation_b"),
        F.col("p_ppm").alias("p_ppm_b"),
    )
    rank_sum = (
        F.sum(
            F.when(
                F.col("p_ppm_b").isNotNull()
                & (
                    (F.col("p_ppm_b") < F.col("p_ppm"))
                    | (
                        (F.col("p_ppm_b") == F.col("p_ppm"))
                        & (F.col("nation_b") <= F.col("nation"))
                    )
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
    )
    rk = (
        pv.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(mt))
        .groupBy("nation")
        .agg(
            F.min("n_items").alias("n_items"),
            F.min("n_returned").alias("n_returned"),
            F.min("m").alias("m"),
            F.min("z_micro").alias("z_micro"),
            F.min("p_ppm").alias("p_ppm"),
            F.when(
                F.min("p_ppm").isNull(), F.lit(None).cast("bigint")
            )
            .otherwise(rank_sum)
            .alias("p_rank"),
        )
    )
    raw = rk.withColumn(
        "raw_adj",
        F.when(
            F.col("p_rank").isNotNull(),
            F.least(
                F.lit(1000000).cast("bigint"),
                F.expr("CAST(p_ppm * m div p_rank AS BIGINT)"),
            ),
        ),
    )
    rb = raw.select(
        F.col("p_rank").alias("rank_b"), F.col("raw_adj").alias("adj_b")
    )
    return (
        raw.join(F.broadcast(rb), F.col("rank_b") >= F.col("p_rank"), "left")
        .groupBy("nation")
        .agg(
            F.min("n_items").alias("n_items"),
            F.min("n_returned").alias("n_returned"),
            F.min("z_micro").alias("z_micro"),
            F.min("p_ppm").alias("p_ppm"),
            F.min("p_rank").alias("p_rank"),
            F.min("adj_b").cast("bigint").alias("bh_adj_ppm"),
            (F.min("adj_b") <= F.lit(50000)).alias("significant_q05"),
        )
    )
