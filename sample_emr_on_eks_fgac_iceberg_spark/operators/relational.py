"""Relational operator surface (SURVEY.md §2.B rows 1-9) over the
driver's TPC-H-ish tables.

The reference exercises only scan/project/filter/inner-join/sort
(SURVEY.md §2.A); this module supplies the full relational repertoire a
user of such a lake would run — aggregations, distinct, rollup/cube,
window functions, every join flavor, set ops, scalar functions, top-K —
each as idiomatic DataFrame code that Catalyst turns into
partial+final hash aggregates, broadcast/sort-merge joins and
range-partitioned sorts.

Scale posture per query, verified by tests/test_plans.py:
- dimension joins broadcast (region/nation/supplier/part/customer);
  fact-fact joins shuffle on the join key and rely on AQE;
- filters are pushed to the parquet scans;
- aggregates are declared so Catalyst performs map-side partial
  aggregation (no collect-based logic anywhere);
- sorts that feed a LIMIT become TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_emr_on_eks_fgac_iceberg_spark.operators.registry import register
from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
    exact_order_statistics,
    global_prefix,
    ntile_assign,
    ntile_cutpoints_multi,
    partition_prefix_min,
    weighted_order_statistic,
)
from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import (
    fan_out,
    load_table,
    materialize_once,
    register_views,
)

# Exact-decimal casts for money/ratio columns (see registry docstring).
MONEY = "decimal(12,2)"
RATE = "decimal(4,2)"


# Scan parallelism note: the testdata ships ONE parquet row group per
# file, and parquet cannot parallelize below row-group granularity, so
# every fact scan here is a single task regardless of split size. A
# blanket fan_out was measured to HURT the broadcast-probe queries
# (q3/q5/q9/q18: scan → broadcast join → light agg pipelines entirely
# inside one codegen stage; adding a shuffle trades that pipeline for a
# serial shuffle write). Only queries whose per-row compute dominates
# the scan (q1's 8-aggregate pass) fan out explicitly. On a real
# multi-row-group layout fan_out is a no-op either way.


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(col: str, typ: str = MONEY):
    return F.col(col).cast(typ)


def _dsum(expr, alias: str):
    """Exact decimal sum surfaced as double (bit-identical to DuckDB)."""
    return F.sum(expr).cast("double").alias(alias)


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 adaptation — hash aggregate with map-side partials.
    The 8-aggregate decimal pass dominates the scan, so the fact is
    fanned out (see the _t parallelism note; no-op on real layouts)."""
    price, disc, tax, qty = (
        _dec("l_extendedprice"),
        _dec("l_discount", RATE),
        _dec("l_tax", RATE),
        _dec("l_quantity"),
    )
    n = F.count(F.lit(1))
    return (
        fan_out(_t(spark, sf_dir, "lineitem"), spark)
        .filter(F.col("l_shipdate") <= "2000-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(qty, "sum_qty"),
            _dsum(price, "sum_base_price"),
            _dsum(price * (1 - disc), "sum_disc_price"),
            _dsum(price * (1 - disc) * (1 + tax), "sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — fully pushed-down filters, single global aggregate."""
    disc = _dec("l_discount", RATE)
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & disc.between(0.02, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(_dec("l_extendedprice") * disc, "revenue"))
    )


@register(
    "agg_stats_by_nation",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_mktsegment) AS n_segments,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_stats_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = _dec("c_acctbal")
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            _dsum(bal, "sum_bal"),
            (F.sum(bal).cast("double") / F.count(F.lit(1))).alias("avg_bal"),
        )
    )


@register(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register("approx_distinct_users")  # no oracle: HLL estimate is engine-specific
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    count-distinct; rows-only check (estimates differ per engine)."""
    return (
        _t(spark, sf_dir, "events")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"))
    )


_KMV_K = 64
_KMV_BITS = 56  # 14 hex chars -> fits (K-1)*2^56 in BIGINT


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               md5(CAST(user_id AS VARCHAR)) AS h
        FROM events),
    r AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM h),
    reg AS (
        SELECT event_type,
               COUNT(*) AS registers,
               MAX(CASE WHEN rk = {_KMV_K} THEN h END) AS hk
        FROM r WHERE rk <= {_KMV_K}
        GROUP BY event_type)
    SELECT event_type, CAST(registers AS BIGINT) AS registers,
           CAST(CASE WHEN registers < {_KMV_K} THEN registers
                ELSE ({_KMV_K} - 1) * {2 ** _KMV_BITS}
                     // GREATEST(('0x' || substr(hk, 1, {_KMV_BITS // 4}))::BIGINT, 1)
           END AS BIGINT) AS est_distinct
    FROM reg
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch — the DETERMINISTIC,
    oracle-checked sibling of `approx_distinct_users` (whose HLL++
    registers are engine-private): per group keep the K smallest md5
    hashes of the distinct values; the K-th minimum's position in
    [0, 1) estimates the distinct count as (K-1)/kth_min (Bar-Yossef
    et al.), computed in pure integer math over the hash's top 56
    bits. A group with fewer than K distinct values reports exactly.

    100 TB posture: the sketch is MERGEABLE and bounded — the
    partial WindowGroupLimit ships at most K registers per group per
    task before the exchange, so the shuffle carries K x groups rows
    regardless of data volume; everything after operates on the
    K-register sketch. Relative error ~ 1/sqrt(K-2) = 13% at K=64
    (floor-tested against the exact count)."""
    h = (
        _t(spark, sf_dir, "events")
        .select("event_type", F.md5(F.col("user_id").cast("string")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    reg = (
        h.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("registers"),
            F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))).alias("hk"),
        )
    )
    # pure INTEGER division (div) — a double divide would round
    # differently from the oracle's // at 62-bit magnitudes
    est = F.expr(
        f"CAST({(_KMV_K - 1) * 2 ** _KMV_BITS} AS BIGINT) div "
        f"greatest(CAST(conv(substring(hk, 1, {_KMV_BITS // 4}), 16, 10) "
        f"AS BIGINT), CAST(1 AS BIGINT))"
    )
    return reg.select(
        "event_type",
        F.col("registers").cast("bigint").alias("registers"),
        F.when(F.col("registers") < _KMV_K, F.col("registers"))
        .otherwise(est)
        .cast("bigint")
        .alias("est_distinct"),
    )


_HQ_WIDTH = 400_000  # histogram bucket width in cents ($4,000)
_HQ_BUCKETS = 128


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
    hist AS (
        SELECT grp,
               LEAST(cents // {_HQ_WIDTH}, {_HQ_BUCKETS - 1}) AS bucket,
               COUNT(*) AS cnt
        FROM c GROUP BY grp, bucket),
    cum AS (
        SELECT grp, bucket, cnt,
               SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
               SUM(cnt) OVER (PARTITION BY grp) AS n
        FROM hist)
    SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
           CAST((MIN(CASE WHEN cum >= (n + 1) // 2
                          THEN bucket END) + 1) * {_HQ_WIDTH} AS BIGINT)
               AS p50_upper_cents,
           CAST((MIN(CASE WHEN cum >= (95 * n + 99) // 100
                          THEN bucket END) + 1) * {_HQ_WIDTH} AS BIGINT)
               AS p95_upper_cents
    FROM cum GROUP BY grp
    """,
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bucket histogram quantiles — the bounded-state
    sibling of the exact `percentile_order_prices` / approx t-digest
    family: order totals (integer cents) drop into {_HQ_BUCKETS} fixed
    buckets of ${_HQ_WIDTH // 100}, and a quantile is read off the
    cumulative histogram as the first bucket covering the rank
    (reported as the bucket's UPPER bound — a guaranteed one-bucket
    error envelope, floor-tested). Integer end-to-end — bit-exact vs
    the oracle.

    100 TB posture: the histogram is the canonical mergeable summary —
    map-side partial counts reduce every partition to ≤ {_HQ_BUCKETS}
    rows per group before the shuffle, the cumulative window runs over
    ≤ {_HQ_BUCKETS} rows per group, and re-aggregation across shards /
    days is plain count addition (exact percentiles need a full sort;
    approx_percentile's sketch is engine-private — this one is
    cross-engine deterministic)."""
    c = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    hist = c.groupBy(
        "grp",
        F.least(
            F.expr(f"cents div {_HQ_WIDTH}"), F.lit(_HQ_BUCKETS - 1)
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.partitionBy("grp").orderBy("bucket")
    wn = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "bucket",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    p50_pos = F.expr("(n + 1) div 2")
    p95_pos = F.expr("(95 * n + 99) div 100")
    return cum.groupBy("grp").agg(
        F.max("n").cast("bigint").alias("n"),
        (
            (F.min(F.when(F.col("cum") >= p50_pos, F.col("bucket"))) + 1)
            * _HQ_WIDTH
        )
        .cast("bigint")
        .alias("p50_upper_cents"),
        (
            (F.min(F.when(F.col("cum") >= p95_pos, F.col("bucket"))) + 1)
            * _HQ_WIDTH
        )
        .cast("bigint")
        .alias("p95_upper_cents"),
    )


@register(
    "orders_seasonal_decomposition",
    oracle="""
    WITH m AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS year,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS month,
               CAST(EXTRACT(YEAR FROM o_orderdate) * 12
                    + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT) AS mkey,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2, 3),
    contrib AS (
        SELECT unnest(range(mkey - 6, mkey + 6)) AS tkey, cents FROM m),
    tr AS (
        SELECT tkey, COUNT(*) AS n, SUM(cents) AS s
        FROM contrib GROUP BY tkey),
    wt AS (
        SELECT m.year, m.month, m.mkey, m.cents,
               CASE WHEN tr.n = 12 THEN tr.s // 12 END AS trend
        FROM m LEFT JOIN tr ON tr.tkey = m.mkey),
    seas AS (
        SELECT month, SUM(cents - trend) // COUNT(*) AS seasonal
        FROM wt WHERE trend IS NOT NULL GROUP BY month)
    SELECT wt.year, wt.month,
           wt.cents AS revenue_cents,
           CAST(wt.trend AS BIGINT) AS trend_cents,
           CAST(s.seasonal AS BIGINT) AS seasonal_cents,
           CAST(wt.cents - wt.trend - s.seasonal AS BIGINT) AS residual_cents
    FROM wt JOIN seas s ON s.month = wt.month
    WHERE wt.trend IS NOT NULL
    """,
)
def orders_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of monthly order revenue —
    trend (centered 12-month moving average), additive seasonal index
    per calendar month (mean detrended value), residual. Integer cents
    with truncating division end-to-end — bit-exact cross-engine.

    100 TB posture: the moving average is a SCATTER/GATHER, not a
    global window — each monthly total (the series is bounded by
    calendar months, but the repo's plan gate rejects empty-
    partitionSpec windows categorically) explodes to the 12 target
    months it contributes to and a hash agg gathers them, so the plan
    is aggregates + broadcast joins only, no single-partition
    exchange. The heavy input pass is the one orders scan feeding the
    monthly rollup with map-side partials."""
    m = materialize_once(
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .withColumn(
            "mkey", (F.col("year") * 12 + F.col("month") - 1).cast("bigint")
        )
    )
    contrib = m.select(
        F.explode(
            F.sequence(F.col("mkey") - 6, F.col("mkey") + 5)
        ).alias("tkey"),
        "cents",
    )
    tr = contrib.groupBy("tkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    wt = m.join(F.broadcast(tr), m.mkey == tr.tkey, "left").select(
        "year",
        "month",
        "cents",
        F.when(F.col("n") == 12, F.expr("s div 12")).alias("trend"),
    )
    wt = materialize_once(wt)
    seas = (
        wt.filter(F.col("trend").isNotNull())
        .groupBy(F.col("month").alias("s_month"))
        .agg(
            F.expr("sum(cents - trend) div count(1)").alias("seasonal")
        )
    )
    # only fully-defined rows: the centered MA needs 12 neighbors, so
    # the series' first/last months have no trend — emit the complete
    # decomposition rows (also keeps the driver compare null-free)
    return wt.filter(F.col("trend").isNotNull()).join(
        F.broadcast(seas), wt.month == seas.s_month
    ).select(
        "year",
        "month",
        F.col("cents").alias("revenue_cents"),
        F.col("trend").cast("bigint").alias("trend_cents"),
        F.col("seasonal").cast("bigint").alias("seasonal_cents"),
        (F.col("cents") - F.col("trend") - F.col("seasonal"))
        .cast("bigint")
        .alias("residual_cents"),
    )


@register(
    "rollup_returnflag",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(_dec("l_quantity"), "sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty")
    )


@register(
    "cube_order_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(_dec("o_totalprice"), "sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")
    )


@register(
    "having_big_nations",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer GROUP BY c_nationkey HAVING COUNT(*) > 5
    """,
)
def having_big_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .filter(F.col("n_customers") > 5)
    )


# --------------------------------------------------------------------------
# Joins — all flavors (SURVEY.md §2.B "Other join flavors")
# --------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 — broadcast customer dim into the orders⋈lineitem plan,
    top-K via TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_dsum(_dec("l_extendedprice") * (1 - _dec("l_discount", RATE)), "revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 — EXISTS as a left-semi join (no row multiplication)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    cond = (l.l_orderkey == o.o_orderkey) & (
        l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 — five-way join; all dims broadcast, single fact shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(_dec("l_extendedprice") * (1 - _dec("l_discount", RATE)), "revenue"))
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           YEAR(l.l_shipdate) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS volume
    FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dsum(_dec("l_extendedprice") * (1 - _dec("l_discount", RATE)), "volume"))
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS profit
    FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (_dec("l_extendedprice") * (1 - _dec("l_discount", RATE))).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(_dsum(F.col("amount"), "profit"))
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-10-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-10-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(_dec("l_extendedprice") * (1 - _dec("l_discount", RATE)), "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@register(
    "q12_late_shipping",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS late_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE date_diff('day', o.o_orderdate, l.l_shipdate) > 90
    GROUP BY o.o_orderpriority
    """,
)
def q12_late_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.datediff("l_shipdate", "o_orderdate") > 90)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("late_count"))
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = _t(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (1 - _dec("l_discount", RATE))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast(MONEY)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                100.0 * F.sum(promo).cast("double") / F.sum(disc_price).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_customer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(12,2))) > 300
    ORDER BY total_qty DESC, o.o_orderkey LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18. The volume filter runs on a per-order pre-aggregate
    BEFORE any join, so only the rare >300-qty orders ever reach the
    orders/customer joins — the fact table is shuffled once for the
    aggregate and never again (the filtered survivors broadcast)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 300)
    )
    # No forced broadcast on `big`: the >300-qty filter is selective on
    # TPC-H-shaped data, but AQE's runtime size check decides — a hint
    # would OOM executors on adversarial inputs.
    return (
        big
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 25)
       OR (p.p_brand = 'Brand#15' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 50)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    pred = (
        ((F.col("p_brand") == "Brand#12") & q.between(1, 11) & sz.between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & q.between(10, 20) & sz.between(1, 25))
        | ((F.col("p_brand") == "Brand#15") & q.between(20, 30) & sz.between(1, 50))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(pred)
        .agg(_dsum(_dec("l_extendedprice") * (1 - _dec("l_discount", RATE)), "revenue"))
    )


@register(
    "join_left_order_counts",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_right_segment_spend",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS segment_spend
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_right_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (the remaining §2.B join flavor): per-segment
    order counts where customers without orders still contribute their
    segment row. Catalyst plans right joins as the mirrored left join —
    the small preserved side (customer) still broadcasts and the
    decimal spend aggregates exactly (null-safe: SUM skips the
    unmatched rows' nulls, COUNT(col) likewise)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("segment_spend"),
        )
    )


@register(
    "join_semi_f_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_semi_f_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_no_recent_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    """,
)
def join_anti_no_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_full_outer_nation_counts",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
         ss AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cc.nk, ss.nk) AS nationkey,
           COALESCE(cc.n_cust, 0) AS n_cust,
           COALESCE(ss.n_supp, 0) AS n_supp
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
)
def join_full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    ss = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cc.join(ss, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_cross_region_status",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def join_cross_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").select("r_name")
    s = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


@register(
    "in_subquery_building_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def in_subquery_building_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@register(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                       FROM customer)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    avg_df = c.agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_df))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal")
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@register(
    "window_order_ranks",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER()  OVER w AS rn,
           RANK()        OVER w AS rk,
           DENSE_RANK()  OVER w AS drk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey)
    """,
)
def window_order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        _dec("o_totalprice").desc(), F.col("o_orderkey")
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


@register(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey)  OVER w AS prev_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           date_diff('day',
                     LAG(o_orderdate) OVER w,
                     o_orderdate) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
            "days_since_prev"
        ),
    )


@register(
    "window_top3_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey) AS rn
        FROM orders) t
    WHERE rn <= 3
    """,
)
def window_top3_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        _dec("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@register(
    "set_union_all_segments",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def set_union_all_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    return a.unionAll(b)


@register(
    "set_intersect_repeat_buyers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    """,
)
def set_intersect_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y97 = o.filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    y98 = o.filter(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1999-01-01")
    ).select("o_custkey")
    return y97.intersect(y98)


@register(
    "set_except_churned",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    """,
)
def set_except_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y97 = o.filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    y98 = o.filter(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1999-01-01")
    ).select("o_custkey")
    return y97.subtract(y98)


# --------------------------------------------------------------------------
# Scalar function surface (string / date / math / conditional)
# --------------------------------------------------------------------------


@register(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS up_name,
           LENGTH(p_name) AS name_len,
           SUBSTRING(p_name, 1, 4) AS name_pre,
           CONCAT(p_brand, '|', p_type) AS tag,
           REPLACE(p_name, ' ', '_') AS snake_name,
           REGEXP_EXTRACT(p_name, '^(\\w+)', 1) AS first_word,
           LPAD(p_brand, 10, '*') AS padded,
           REVERSE(p_type) AS rev_type
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 4).alias("name_pre"),
        F.concat(F.col("p_brand"), F.lit("|"), F.col("p_type")).alias("tag"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake_name"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.lpad("p_brand", 10, "*").alias("padded"),
        F.reverse(F.col("p_type")).alias("rev_type"),
    )


@register(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           YEAR(o_orderdate) AS o_year,
           MONTH(o_orderdate) AS o_month,
           DAY(o_orderdate) AS o_day,
           QUARTER(o_orderdate) AS o_quarter,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k
    FROM orders
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_y2k"
        ),
    )


@register(
    "scalar_math_funcs",
    oracle="""
    SELECT o_orderkey,
           ROUND(o_totalprice, 1) AS rounded,
           ABS(o_totalprice - 100000) AS dist_100k,
           CAST(CEIL(o_totalprice) AS BIGINT) AS price_ceil,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           SQRT(o_totalprice) AS price_sqrt,
           o_orderkey % 7 AS key_mod,
           CAST(SIGN(o_totalprice - 100000) AS INT) AS above_100k
    FROM orders
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sqrt is IEEE-correctly-rounded (safe to hash); ln/exp/pow are not.
    p = F.col("o_totalprice")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(p, 1).alias("rounded"),
        F.abs(p - 100000).alias("dist_100k"),
        F.ceil(p).cast("bigint").alias("price_ceil"),
        F.floor(p).cast("bigint").alias("price_floor"),
        F.sqrt(p).alias("price_sqrt"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.signum(p - 100000).cast("int").alias("above_100k"),
    )


@register(
    "case_when_price_bands",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                WHEN o_totalprice < 300000 THEN 'high'
                ELSE 'jumbo' END AS price_band,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS band_total
    FROM orders GROUP BY price_band
    """,
)
def case_when_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.col("o_totalprice")
    band = (
        F.when(p < 50000, "low")
        .when(p < 150000, "mid")
        .when(p < 300000, "high")
        .otherwise("jumbo")
    )
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(band.alias("price_band"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(_dec("o_totalprice"), "band_total"),
        )
    )


@register(
    "string_agg_nations_per_region",
    oracle="""
    SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def string_agg_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
    )


# --------------------------------------------------------------------------
# Top-K / sorts
# --------------------------------------------------------------------------


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey LIMIT 25
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject (no global sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(_dec("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "global_sort_nations",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    ORDER BY n_regionkey, n_name
    """,
)
def global_sort_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: multi-column global sort (range partitioned)."""
    return (
        _t(spark, sf_dir, "nation")
        .orderBy("n_regionkey", "n_name")
        .select("n_nationkey", "n_name", "n_regionkey")
    )


# --------------------------------------------------------------------------
# Semi-structured (JSON) + pivot over events
# --------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS "view"
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    # pivot leaves null for empty cells; align with FILTER-count's 0
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


@register(
    "unpivot_returnflag_metrics",
    oracle="""
    WITH a AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS sum_base_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_base_price', sum_base_price FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM a
    """,
)
def unpivot_returnflag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — the inverse of pivot_event_counts: a wide
    per-flag aggregate reshaped to long (flag, metric, value) rows via
    DataFrame.unpivot, which plans as a single Expand over the 3-row
    aggregate — no join, no extra shuffle beyond the aggregation's."""
    a = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            _dsum(_dec("l_quantity"), "sum_qty"),
            _dsum(_dec("l_extendedprice"), "sum_base_price"),
            _dsum(_dec("l_discount", RATE), "sum_disc"),
        )
    )
    return a.unpivot(
        "l_returnflag",
        ["sum_qty", "sum_base_price", "sum_disc"],
        "metric",
        "value",
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


# --------------------------------------------------------------------------
# Grouping sets / array ops / further TPC-H adaptations
# --------------------------------------------------------------------------


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via rollup-from-finest instead of Catalyst's
    Expand: Expand feeds 3× the fact rows into the hash aggregate (one
    replica per grouping set); aggregating the finest set once and
    re-aggregating the coarser sets from that ~|rf×ls|-row intermediate
    does one fact shuffle and two metadata-scale re-aggs (measured ~30%
    faster at sf0.1, and the gap grows with the set count at 100 TB).
    Decimal sums re-aggregate exactly, so the values are identical to
    the Expand plan; gid mirrors grouping_id(rf, ls)."""
    li = fan_out(
        load_table(spark, sf_dir, "lineitem"), spark, "l_returnflag", "l_linestatus"
    )
    base = materialize_once(
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )

    def gid(v):
        return F.lit(v).cast("bigint").alias("gid")

    null_s = F.lit(None).cast("string")
    l0 = base.select("l_returnflag", "l_linestatus", gid(0), "rev", "n")
    l1 = (
        base.groupBy("l_returnflag")
        .agg(F.sum("rev").alias("rev"), F.sum("n").alias("n"))
        .select("l_returnflag", null_s.alias("l_linestatus"), gid(1), "rev", "n")
    )
    l3 = base.agg(F.sum("rev").alias("rev"), F.sum("n").alias("n")).select(
        null_s.alias("l_returnflag"), null_s.alias("l_linestatus"), gid(3), "rev", "n"
    )
    return (
        l0.unionByName(l1)
        .unionByName(l3)
        .select(
            "l_returnflag",
            "l_linestatus",
            "gid",
            F.col("rev").cast("double").alias("revenue"),
            "n",
        )
    )


@register(
    "array_explode_word_counts",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 50
    """,
)
def array_explode_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → explode → count: the array/lateral surface. The
    explode multiplies rows before the aggregate, so the count is
    map-side-combined per partition before the single shuffle."""
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(50)
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN r.r_name = 'ASIA'
                    THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                    ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS mkt_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 adaptation — ASIA suppliers' share of ECONOMY-part
    revenue per order year. All four dims broadcast; lineitem shuffles
    once for the final year aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount", RATE))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("r_name") == "ASIA", rev).otherwise(
                    F.lit(0).cast(MONEY) * F.lit(0).cast(RATE)
                )).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — orders-per-customer histogram. The inner count
    groups the fact side on its own key (one shuffle); the outer
    histogram aggregate is tiny."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — top supplier by quarterly revenue. The per-supplier
    revenue frame is materialized once; the max is a scalar aggregate
    over it (map-side partials, one row per partition to the final
    reducer) broadcast back as a 1-row equality join — NOT a global
    window, which would funnel the whole frame through one partition.
    DECIMAL revenue makes the equality comparison exact."""
    rev = materialize_once(
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount", RATE))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    top = rev.join(
        F.broadcast(mx), rev.total_revenue == mx.max_rev, "inner"
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    return top.join(s, top.supplier_no == s.s_suppkey).select(
        "s_suppkey", "s_name", F.col("total_revenue").cast("double")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg_qty
          FROM lineitem GROUP BY l_partkey) a
      ON a.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
    WHERE l.l_quantity < a.half_avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — small-quantity revenue. The per-part average is a
    self-aggregate joined back on l_partkey; both sides share the
    partkey shuffle, and the brand filter broadcasts."""
    l = _t(spark, sf_dir, "lineitem")
    avg_qty = (
        l.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg((F.avg("l_quantity") * 0.5).alias("half_avg_qty"))
    )
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(avg_qty, l.l_partkey == avg_qty.a_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q22_idle_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS v FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT v FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-06-01')
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adaptation — rich customers with no recent orders, by
    nation. The NOT EXISTS is a left-anti join (no row multiplication)
    whose date filter pushes to the orders scan; the scalar average
    broadcasts as a 1-row cross join."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-06-01")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("v")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#23' AND p.p_size IN (1, 4, 9, 14, 19, 23)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adaptation (no partsupp table → supplier/part
    relationships come from lineitem): distinct suppliers per
    brand/type/size bucket. COUNT(DISTINCT) expands to a two-phase
    aggregate; the part dim broadcasts with its filters applied."""
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#23")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "percentile_order_prices",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5) / 100.0
             AS median_price,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.9) / 100.0
             AS p90_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentile_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the approximate
    sketch path is approx_percentile/approx_count_distinct — see
    approx_distinct_users). Quantized to integer cents so both
    engines interpolate over identical integers."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "price_c", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    return o.groupBy("o_orderstatus").agg(
        (F.expr("percentile(price_c, 0.5)") / 100.0).alias("median_price"),
        (F.expr("percentile(price_c, 0.9)") / 100.0).alias("p90_price"),
    )


@register(
    "stats_exact_corr",
    oracle="""
    WITH q AS (
        SELECT CAST(ROUND(l_quantity) AS HUGEINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS HUGEINT) AS y
        FROM lineitem),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
        FROM q)
    SELECT CAST(n*sxy - sx*sy AS DOUBLE)
             / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS corr_qty_price
    FROM s
    """,
)
def stats_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation via exact integer moment sums (built-in
    F.corr uses streaming float accumulation whose result depends on
    partition order — unusable for a cross-engine hash check). All
    five moments are DECIMAL(38,0) sums of quantized integers, exact
    and order-free; one float64 expression at the end."""
    l = _t(spark, sf_dir, "lineitem").select(
        F.round("l_quantity").cast("decimal(38,0)").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)").alias("y"),
    )
    s = l.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        (
            (n * sxy - sx * sy).cast("double")
            / (
                F.sqrt((n * sxx - sx * sx).cast("double"))
                * F.sqrt((n * syy - sy * sy).cast("double"))
            )
        ).alias("corr_qty_price")
    )


@register(
    "map_ops_event_profile",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type)
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY event_type) AS type_keys,
           string_agg(CAST(n AS VARCHAR), ',' ORDER BY event_type) AS type_counts,
           MAX(CASE WHEN event_type = 'purchase' THEN n ELSE 0 END)
             AS purchase_count
    FROM counts GROUP BY user_id
    """,
)
def map_ops_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function surface: per-user event-type histogram built as a
    real MapType column (map_from_entries over collected structs), then
    queried with map_keys / element_at and serialized key-sorted so the
    output is deterministic. The map is the per-row container an LLM
    pipeline uses for typed feature bags; outputs are flattened to
    strings because map iteration order is engine-specific."""
    counts = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    profiled = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    keys = F.array_sort(F.map_keys("m"))
    return profiled.select(
        "user_id",
        F.concat_ws(",", keys).alias("type_keys"),
        F.concat_ws(
            ",", F.transform(keys, lambda k: F.element_at("m", k).cast("string"))
        ).alias("type_counts"),
        F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0)).alias(
            "purchase_count"
        ),
    )


@register(
    "set_bag_ops_returnflag",
    oracle="""
    WITH a AS (SELECT l_returnflag, l_linestatus FROM lineitem
               WHERE l_shipdate < TIMESTAMP '1995-01-01'),
         b AS (SELECT l_returnflag, l_linestatus FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1995-01-01')
    SELECT 'intersect_all' AS op, l_returnflag, l_linestatus, COUNT(*) AS n
    FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT 'except_all' AS op, l_returnflag, l_linestatus, COUNT(*) AS n
    FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    GROUP BY l_returnflag, l_linestatus
    """,
)
def set_bag_ops_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL —
    multiplicity-preserving, unlike the DISTINCT variants in
    set_intersect_repeat_buyers / set_except_churned). Spark plans both
    as a single count-per-side aggregate + generate (no join of the two
    inputs), so each costs one shuffle on the value columns — the same
    shape a 100 TB run wants. Tagged counts keep the compared result
    compact."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_shipdate"
    )
    a = l.filter(F.col("l_shipdate") < "1995-01-01").drop("l_shipdate")
    b = l.filter(F.col("l_shipdate") >= "1995-01-01").drop("l_shipdate")

    def counted(df: DataFrame, op: str) -> DataFrame:
        return (
            df.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(op).alias("op"),
                "l_returnflag",
                "l_linestatus",
                "n",
            )
        )

    return counted(a.intersectAll(b), "intersect_all").unionByName(
        counted(a.exceptAll(b), "except_all")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH l AS (
        SELECT l_orderkey, l_suppkey,
               l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F')
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s JOIN (
        SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        FROM l l1
        WHERE l1.is_late
          AND EXISTS (SELECT 1 FROM l l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM l l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.is_late)
    ) q ON s.s_suppkey = q.l_suppkey
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adaptation (no commit/receipt dates in the driver's
    lineitem → "late" means shipped >60 days after the order date):
    suppliers who were the sole late supplier in a multi-supplier
    finished order.

    The textbook EXISTS / NOT EXISTS pair is two extra self-joins of
    lineitem — at 100 TB that is two more shuffles of the biggest fact
    table. Rewritten as one per-(order, supplier) aggregate followed by
    a per-order aggregate: lateness per supplier, then supplier count /
    late-supplier count / the sole late supplier's key in one pass.
    Everything after the lineitem⋈orders join stays partitioned on
    l_orderkey, so both groupBys are shuffle-free; supplier names come
    from a broadcast dim join at the end."""
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    per_supp = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("nsupp"),
        F.sum(F.col("is_late").cast("int")).alias("nlate"),
        F.max(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "late_suppkey"
        ),
    )
    sole = per_order.filter(
        (F.col("nsupp") > 1) & (F.col("nlate") == 1)
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        sole.join(s, sole.late_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "window_distribution_ranks",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cum_dist,
           FIRST_VALUE(c_custkey) OVER w AS poorest_custkey
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT), c_custkey)
    """,
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist /
    first_value) per nation. The order key is quantized to integer
    cents with a custkey tiebreak so both engines see the identical
    total order; pct_rank/cum_dist are then exact rational doubles.
    One hash exchange on c_nationkey serves all four functions."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.round(F.col("c_acctbal") * 100).cast("long"), F.col("c_custkey")
    )
    return _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.first("c_custkey").over(w).alias("poorest_custkey"),
    )


@register("approx_percentile_prices")  # t-digest-style sketch → rows-only check
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the sketch path for quantiles at 100 TB
    (single pass, mergeable, bounded memory; exact interpolated
    counterpart is percentile_order_prices). Engine-specific sketch →
    rows-only driver check."""
    q = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.expr(
                "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
            ).alias("price_quantiles")
        )
    )
    # Scalar columns (not the raw array) so the driver's row-hash
    # canonicalizer — which cannot hash list cells — can compare rows.
    return q.select(
        "o_orderstatus",
        F.element_at("price_quantiles", 1).alias("p50"),
        F.element_at("price_quantiles", 2).alias("p90"),
        F.element_at("price_quantiles", 3).alias("p99"),
    )


# --------------------------------------------------------------------------
# Derived partsupp — closes the TPC-H set (q2/q11/q20, VERDICT r01 #9).
# The testdata ships no partsupp table, so the part/supplier relation is
# derived from lineitem the same way q16 derives supplier counts: one row
# per (l_partkey, l_suppkey) pair that ever traded, with
#   ps_cost_c   — MIN observed line price in exact cents (ps_supplycost)
#   ps_availqty — total quantity ever shipped (ps_availqty)
# Integer cents/quantities keep every downstream aggregate exact and
# order-independent across engines. One shuffle on the pair key; at
# 100 TB this is a materialized derived table, not a per-query recompute.
# --------------------------------------------------------------------------


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "ps_cost_c"
            ),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("ps_availqty"),
        )
    )


_ORACLE_PS = """
    ps AS (
        SELECT l_partkey, l_suppkey,
               MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS ps_cost_c,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS ps_availqty
        FROM lineitem GROUP BY l_partkey, l_suppkey)
"""


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH {_ORACLE_PS},
    eu AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'),
    cand AS (
        SELECT p.p_partkey, p.p_brand, eu.s_suppkey, eu.s_name, eu.s_acctbal,
               eu.n_name, ps.ps_cost_c,
               MIN(ps.ps_cost_c) OVER (PARTITION BY p.p_partkey) AS min_c
        FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey
                JOIN part p ON ps.l_partkey = p.p_partkey
        WHERE p.p_type = 'LARGE' AND p.p_size <= 25)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, s_suppkey,
           CAST(ps_cost_c AS DOUBLE) / 100.0 AS supply_cost
    FROM cand WHERE ps_cost_c = min_c
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adaptation over the derived partsupp: for LARGE parts
    up to size 25, the European supplier(s) offering the minimum cost.
    Plan: partsupp derivation shuffles lineitem once on the pair key;
    supplier⋈nation⋈region and part broadcast; the per-part minimum is
    one window over p_partkey; ORDER BY + LIMIT is
    TakeOrderedAndProject."""
    ps = _derived_partsupp(spark, sf_dir)
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = _t(spark, sf_dir, "supplier")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 25)
    )
    cand = (
        ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_c", F.min("ps_cost_c").over(w))
        .filter(F.col("ps_cost_c") == F.col("min_c"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            "s_suppkey",
            (F.col("ps_cost_c").cast("double") / 100.0).alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
        .limit(100)
    )


@register(
    "q11_important_stock",
    oracle=f"""
    WITH {_ORACLE_PS},
    natps AS (
        SELECT ps.l_partkey, ps.ps_cost_c * ps.ps_availqty AS value_c
        FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'),
    byp AS (SELECT l_partkey AS ps_partkey, SUM(value_c) AS value_c
            FROM natps GROUP BY l_partkey)
    SELECT ps_partkey, CAST(value_c AS DOUBLE) / 100.0 AS part_value
    FROM byp
    WHERE CAST(value_c AS DOUBLE)
          > 0.001 * (SELECT CAST(SUM(value_c) AS DOUBLE) FROM byp)
    ORDER BY part_value DESC, ps_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adaptation: parts whose stock value at NATION_3
    suppliers exceeds 0.001 of that nation's total stock value. All
    value math is exact integer cents·units; the grand total is a
    single-row broadcast (scalar-subquery shape), never a driver
    collect."""
    ps = _derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    natps = (
        ps.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
                ps.l_suppkey == F.col("s_suppkey"))
        .select(
            "l_partkey",
            (F.col("ps_cost_c") * F.col("ps_availqty")).alias("value_c"),
        )
    )
    byp = natps.groupBy(F.col("l_partkey").alias("ps_partkey")).agg(
        F.sum("value_c").alias("value_c")
    )
    total = byp.agg(F.sum("value_c").cast("double").alias("total_c"))
    return (
        byp.join(F.broadcast(total))
        .filter(F.col("value_c").cast("double") > 0.001 * F.col("total_c"))
        .select(
            "ps_partkey",
            (F.col("value_c").cast("double") / 100.0).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


@register(
    "q20_potential_promotion",
    oracle=f"""
    WITH {_ORACLE_PS},
    shipped AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty95
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY l_partkey, l_suppkey),
    surplus AS (
        SELECT ps.l_suppkey
        FROM ps JOIN shipped sh
          ON ps.l_partkey = sh.l_partkey AND ps.l_suppkey = sh.l_suppkey
        JOIN part p ON ps.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'blue%'
          AND CAST(ps.ps_availqty AS DOUBLE) > 0.5 * CAST(sh.qty95 AS DOUBLE)
        GROUP BY ps.l_suppkey)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN surplus ON surplus.l_suppkey = s.s_suppkey
    WHERE n.n_name = 'NATION_3'
    ORDER BY s.s_name, s.s_suppkey
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adaptation: NATION_3 suppliers holding surplus stock
    (availqty > half of 1995 shipments) of any 'blue%' part. The two
    lineitem aggregates share the (partkey, suppkey) shuffle key, the
    part filter broadcasts, and the final supplier join is a semi-join
    over the small surplus set."""
    ps = _derived_partsupp(spark, sf_dir)
    l = _t(spark, sf_dir, "lineitem")
    shipped = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("l_partkey").alias("sh_partkey"),
            F.col("l_suppkey").alias("sh_suppkey"),
        )
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty95"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("blue%"))
    surplus = (
        ps.join(
            shipped,
            (ps.l_partkey == shipped.sh_partkey)
            & (ps.l_suppkey == shipped.sh_suppkey),
        )
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .filter(
            F.col("ps_availqty").cast("double") > 0.5 * F.col("qty95").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(surplus, s.s_suppkey == surplus.l_suppkey)
        .select("s_suppkey", "s_name")
        .orderBy("s_name", "s_suppkey")
    )


@register(
    "page_orders_offset",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def page_orders_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-free pagination (ORDER BY … LIMIT k OFFSET n): Spark
    plans offset+limit as a single bounded global-TopK
    (CollectLimit/TakeOrdered with offset), so the cost is the top
    n+k rows, never a full sort. Tie-break on the key makes every page
    deterministic across engines — the property a paginated export
    needs. At 100 TB prefer keyset pagination (WHERE key > last_seen)
    for deep pages; OFFSET stays correct but scans the top n+k."""
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .offset(40)
        .limit(20)
    )


@register(
    "lateral_top_nations_per_region",
    oracle="""
    SELECT r.r_name, t.n_name, t.n_customers
    FROM region r,
    LATERAL (
        SELECT n.n_name, COUNT(c.c_custkey) AS n_customers
        FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n.n_name
        LIMIT 2
    ) t
    """,
)
def lateral_top_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:1999 lateral derived table —
    Spark 3.2+'s LATERAL join, DuckDB's LATERAL): per region, the top-2
    nations by customer count, expressed as the per-row subquery a SQL
    user writes rather than the window rewrite an engine hand-optimizes
    into. Catalyst DECORRELATES it: the planned shape is the same
    aggregate + rank-filter join a manual window top-K produces — the
    point of the query is that the lateral spelling stays declarative
    and the optimizer does the rewrite. Tie-break on nation name makes
    the LIMIT deterministic in both engines."""
    register_views(spark, sf_dir, ("region", "nation", "customer"))
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.n_customers
        FROM region r,
        LATERAL (
            SELECT n.n_name, COUNT(c.c_custkey) AS n_customers
            FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_customers DESC, n.n_name
            LIMIT 2
        ) t
        """
    )


_BASKET_MIN_CO = 3  # minimum co-occurrence support


@register(
    "basket_part_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    part_cnt AS (
        SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS co_count
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= {_BASKET_MIN_CO})
    SELECT p.part_a, p.part_b, p.co_count,
           ca.cnt AS count_a, cb.cnt AS count_b,
           CAST(p.co_count AS DOUBLE) * (SELECT n_orders FROM n)
               / (ca.cnt * cb.cnt) AS lift
    FROM pairs p
      JOIN part_cnt ca ON ca.l_partkey = p.part_a
      JOIN part_cnt cb ON cb.l_partkey = p.part_b
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining — the association signal
    (which parts ship together more often than chance) behind
    recommendations and assortment analysis: per unordered part pair,
    co-occurrence support and lift = P(a,b)/(P(a)·P(b)) with every
    probability an exact integer count over distinct (order, part)
    pairs; lift's one double division is deterministic.

    Plan shape at 100 TB: the pair generator is an equi-self-join keyed
    on the order — fan-out is Σ c_o·(c_o−1)/2 over per-order item
    counts c_o (bounded by basket size, never |parts|²); the a<b
    orientation emits each pair once; support pruning (HAVING) runs in
    the pair aggregate before the two small count-table joins. The
    order-keyed shuffle is shared by the distinct and the self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    items = materialize_once(
        li.select("l_orderkey", "l_partkey").distinct()
    )
    # the denominator rides as a broadcast 1-row frame so the builder
    # stays fully lazy (no driver action at plan-construction time)
    n_orders = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    part_cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("co_count"))
        .filter(F.col("co_count") >= _BASKET_MIN_CO)
    )
    ca = part_cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("cnt").alias("count_a")
    )
    cb = part_cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("cnt").alias("count_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "co_count",
            "count_a",
            "count_b",
            (
                F.col("co_count").cast("double")
                * F.col("n_orders")
                / (F.col("count_a") * F.col("count_b"))
            ).alias("lift"),
        )
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS DECIMAL(18,0)))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey),
    scored AS (
        SELECT *,
               NTILE(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
               NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
               NTILE(4) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
        FROM rfm)
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic recency/frequency/monetary
    customer quartiles, rolled up to segment sizes and value. Monetary
    accumulates in integer cents (decimal→bigint, partitioning-
    invariant); every quartile ordering carries the customer key as a
    tie-break so bucket boundaries are total-order deterministic and
    engine-identical to the oracle's NTILE(4).

    Plan shape at 100 TB: one orders aggregation to a per-customer
    frame (materialized once), then — instead of three
    `Window.orderBy` NTILEs, which Spark plans as three exchanges to
    ONE partition each with a full sort there — a single stacked
    `ntile_cutpoints_multi` pass: the three orderings union long-form
    (dim tag, long value, custkey) through ONE narrow range exchange
    whose per-(dim, partition) counts (scalars) locate all nine exact
    quartile boundary tuples. Scores are then literal CASE
    comparisons fused into the final rollup scan; no single-partition
    window, no join, and the driver only ever holds 3·n_parts + 9
    scalars. The final rollup has at most 64 cells.

    Cost note (bench): at toy SFs this reads ~1 s slower than the old
    single-partition-window form — fixed driver overhead (two
    checkpoint barriers compile plans to RDDs, plus two tiny actions),
    NOT data-scaled work; the window form's cost grows with the
    customer frame on one task, this form's does not."""
    o = load_table(spark, sf_dir, "orders")
    rfm = materialize_once(
        o.groupBy("o_custkey").agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast(
                    "decimal(18,0)"
                )
            )
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )
    # All three dimensions' cut-points come from ONE stacked pipeline
    # (ntile_cutpoints_multi): recency is converted to epoch-micros so
    # the three orderings share a long-typed value column — the
    # conversion is order-isomorphic, so NTILE positions are unchanged.
    # One materialization job, one range-sample + exchange, one counts
    # action, one boundary fetch — instead of 3× each dimension-wise.
    # The exchange's partition count adapts to the MEASURED frame size
    # (≤1M narrow rows per partition): thousands of partitions at 100 TB
    # customer counts, a handful at test scale where 32 near-empty
    # tasks per job would be pure scheduling overhead.
    n_customers = rfm.count()
    # size-derived, not core-derived: the formula itself bounds task
    # input (tasks beyond core count just queue)
    n_parts = (3 * n_customers) // 1_000_000 + 1
    rfm = rfm.withColumn(
        "last_order_us", F.unix_micros(F.col("last_order").cast("timestamp"))
    )
    dims = (
        ("r_score", "last_order_us"),
        ("f_score", "frequency"),
        ("m_score", "monetary_cents"),
    )
    parts = [
        rfm.select(
            F.lit(name).alias("dim"),
            F.col(c).cast("long").alias("v"),
            "o_custkey",
        )
        for name, c in dims
    ]
    stacked = parts[0].unionByName(parts[1]).unionByName(parts[2])
    cuts = ntile_cutpoints_multi(
        stacked, "dim", ["v", "o_custkey"], buckets=4, n_parts=n_parts
    )
    scored = rfm
    for name, c in dims:
        # empty input -> no cut-points -> constant bucket 1 (degenerate
        # but well-defined, matching NTILE over an empty frame)
        scored = scored.withColumn(
            name,
            ntile_assign(cuts.get(name, []), [c, "o_custkey"], ["v", "o_custkey"]),
        )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
    )


@register(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
               AS finished_value
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI FILTER-clause aggregation — several differently-filtered
    aggregates out of ONE scan and one hash agg (the idiom that
    replaces N self-joined subqueries with conditional aggregation;
    Catalyst plans each FILTER as an `if` inside the aggregate
    expression, all map-side-combinable)."""
    o = load_table(spark, sf_dir, "orders")
    fin = F.col("o_orderstatus") == "F"
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(fin, 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.sum(F.when(fin, F.col("o_totalprice").cast("decimal(12,2)")))
        .cast("double")
        .alias("finished_value"),
    )


@register(
    "scalar_bitwise_funcs",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_and,
           CAST(bit_or(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_or,
           CAST(bit_xor(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_xor,
           CAST(SUM(CAST(l_quantity AS BIGINT) << 1) AS BIGINT) AS qty_shl_sum,
           CAST(SUM(xor(CAST(l_quantity AS BIGINT),
                        CAST(l_linenumber AS BIGINT))) AS BIGINT) AS xor_mix_sum
    FROM lineitem GROUP BY l_returnflag
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family — the aggregate forms (bit_and / bit_or
    / bit_xor, used for set-membership compression and checksum-style
    integrity probes) plus scalar shifts and xor, all exact integer
    ops inside codegen with map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(q).alias("qty_and"),
        F.bit_or(q).alias("qty_or"),
        F.bit_xor(q).alias("qty_xor"),
        F.sum(F.shiftleft(q, 1)).cast("bigint").alias("qty_shl_sum"),
        F.sum(q.bitwiseXOR(F.col("l_linenumber").cast("bigint")))
        .cast("bigint")
        .alias("xor_mix_sum"),
    )


@register(
    "grouping_id_rollup",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with the GROUPING() discriminator — the surface that
    distinguishes a genuine NULL group key from a rollup subtotal row
    (gid bit per column). One Expand + hash agg; subtotal rows are
    computed in the same pass as the leaves."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
        )
    )


@register(
    "monthly_mix_shift",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month, l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY month, l_returnflag),
    tot AS (SELECT month, CAST(SUM(n) AS BIGINT) AS m_total
            FROM monthly GROUP BY month),
    shares AS (
        SELECT m.month, m.l_returnflag, m.n, t.m_total,
               CAST(m.n AS DOUBLE) / t.m_total AS share
        FROM monthly m JOIN tot t ON t.month = m.month)
    SELECT month, l_returnflag, n, m_total, share,
           share - LAG(share) OVER (PARTITION BY l_returnflag
                                    ORDER BY month) AS mom_delta
    FROM shares
    """,
)
def monthly_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month mix-shift — the drift monitor a data pipeline
    runs on category shares (is one class of rows quietly growing?):
    per-month per-flag share (exact integer counts, one deterministic
    division) and its delta vs the previous month via a lag window
    over the tiny months×flags frame. Two stacked partial aggs; the
    window sorts dozens of rows, never the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = materialize_once(
        li.groupBy(
            F.date_trunc("month", F.col("l_shipdate"))
            .cast("date")
            .alias("month"),
            "l_returnflag",
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = monthly.groupBy("month").agg(
        F.sum("n").cast("bigint").alias("m_total")
    )
    shares = monthly.join(tot, "month").withColumn(
        "share", F.col("n").cast("double") / F.col("m_total")
    )
    w = Window.partitionBy("l_returnflag").orderBy("month")
    return shares.select(
        "month",
        "l_returnflag",
        "n",
        "m_total",
        "share",
        (F.col("share") - F.lag("share").over(w)).alias("mom_delta"),
    )


@register(
    "stats_ab_welch_t2",
    oracle="""
    WITH e AS (
        SELECT event_type,
               CAST(user_id % 2 AS INT) AS variant,
               CAST(round(value * 100) AS HUGEINT) AS cents
        FROM events),
    g AS (
        SELECT event_type,
               SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
               SUM(CASE WHEN variant = 0 THEN cents ELSE 0 END) AS s_a,
               SUM(CASE WHEN variant = 1 THEN cents ELSE 0 END) AS s_b,
               SUM(CASE WHEN variant = 0 THEN cents * cents ELSE 0 END) AS q_a,
               SUM(CASE WHEN variant = 1 THEN cents * cents ELSE 0 END) AS q_b,
               MIN(CASE WHEN variant = 0 THEN cents END) AS mn_a,
               MAX(CASE WHEN variant = 0 THEN cents END) AS mx_a,
               MIN(CASE WHEN variant = 1 THEN cents END) AS mn_b,
               MAX(CASE WHEN variant = 1 THEN cents END) AS mx_b
        FROM e GROUP BY event_type),
    d AS (
        SELECT event_type, mn_a, mx_a, mn_b, mx_b,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
               CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
               (CAST(q_a AS DOUBLE)
                - CAST(s_a AS DOUBLE) * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
                   / CAST(n_a - 1 AS DOUBLE) AS v_a,
               (CAST(q_b AS DOUBLE)
                - CAST(s_b AS DOUBLE) * (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
                   / CAST(n_b - 1 AS DOUBLE) AS v_b
        FROM g WHERE n_a > 1 AND n_b > 1)
    SELECT event_type, n_a, n_b,
           m_a / 100 AS mean_a, m_b / 100 AS mean_b,
           ((m_a - m_b) * (m_a - m_b))
               / (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) AS t2,
           ((v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE))
            * (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)))
               / ((v_a / CAST(n_a AS DOUBLE)) * (v_a / CAST(n_a AS DOUBLE))
                      / CAST(n_a - 1 AS DOUBLE)
                  + (v_b / CAST(n_b AS DOUBLE)) * (v_b / CAST(n_b AS DOUBLE))
                      / CAST(n_b - 1 AS DOUBLE)) AS welch_df
    FROM d WHERE NOT (mn_a = mx_a AND mn_b = mx_b)
    """,
)
def stats_ab_welch_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance A/B test per event type — the squared
    t statistic plus the Welch–Satterthwaite degrees of freedom, the
    experimentation readout every event pipeline ships (t² avoids the
    sqrt, keeping the value a fixed rational expression tree).

    Determinism: value is an exact 2-decimal quantity, so sums ride
    exact integer cents (DECIMAL(38,0) / HUGEINT — overflow-proof at
    any corpus size); the float formula is built from those exact
    integers with +,-,×,÷ only (each IEEE-correctly-rounded, so the
    identical expression tree is bit-equal across engines — never
    ln/exp, registry determinism rules).

    Plan shape at 100 TB: ONE conditional-aggregation pass — variant
    is derived per row, both arms' (n, Σ, Σ²) ride the same
    event_type-keyed hash agg with map-side partials; no join, no
    second scan, final math on a handful of rows."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.round(F.col("value") * 100).cast("decimal(38,0)").alias("cents"),
    )
    a = F.col("variant") == 0

    def both(expr_a, expr_b, na, nb):
        return [expr_a.alias(na), expr_b.alias(nb)]

    g = e.groupBy("event_type").agg(
        *both(F.sum(F.when(a, 1).otherwise(0)), F.sum(F.when(~a, 1).otherwise(0)), "n_a", "n_b"),
        *both(
            F.sum(F.when(a, F.col("cents")).otherwise(F.lit(0))),
            F.sum(F.when(~a, F.col("cents")).otherwise(F.lit(0))),
            "s_a", "s_b",
        ),
        *both(
            F.sum(F.when(a, F.col("cents") * F.col("cents")).otherwise(F.lit(0))),
            F.sum(F.when(~a, F.col("cents") * F.col("cents")).otherwise(F.lit(0))),
            "q_a", "q_b",
        ),
        *both(F.min(F.when(a, F.col("cents"))), F.min(F.when(~a, F.col("cents"))), "mn_a", "mn_b"),
        *both(F.max(F.when(a, F.col("cents"))), F.max(F.when(~a, F.col("cents"))), "mx_a", "mx_b"),
    ).filter((F.col("n_a") > 1) & (F.col("n_b") > 1))
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    m_a = dbl("s_a") / dbl("n_a")
    m_b = dbl("s_b") / dbl("n_b")
    v_a = (dbl("q_a") - dbl("s_a") * (dbl("s_a") / dbl("n_a"))) / (
        dbl("n_a") - F.lit(1.0)
    )
    v_b = (dbl("q_b") - dbl("s_b") * (dbl("s_b") / dbl("n_b"))) / (
        dbl("n_b") - F.lit(1.0)
    )
    se_a, se_b = v_a / dbl("n_a"), v_b / dbl("n_b")
    # both arms constant → the statistic is undefined (0/0): drop the
    # group rather than divide by zero (ANSI mode) or fake an infinity.
    # Degeneracy is tested EXACTLY — an arm is constant iff its integer
    # min equals its integer max — never via the float v_a + v_b > 0,
    # whose cancellation (q − s·(s/n)) can leak a tiny positive variance
    # from a constant arm and report an enormous, meaningless t²
    # (ADVICE r10). min/max ride the same hash agg and cannot overflow.
    g = g.filter(
        ~((F.col("mn_a") == F.col("mx_a")) & (F.col("mn_b") == F.col("mx_b")))
    )
    return g.select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (m_a / F.lit(100.0)).alias("mean_a"),
        (m_b / F.lit(100.0)).alias("mean_b"),
        (((m_a - m_b) * (m_a - m_b)) / (se_a + se_b)).alias("t2"),
        (
            ((se_a + se_b) * (se_a + se_b))
            / (
                se_a * se_a / (dbl("n_a") - F.lit(1.0))
                + se_b * se_b / (dbl("n_b") - F.lit(1.0))
            )
        ).alias("welch_df"),
    )


@register(
    "customers_gini_revenue",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS cents
        FROM orders GROUP BY o_custkey),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM rev),
    s AS (SELECT COUNT(*) AS n, SUM(cents) AS sx, SUM(i * cents) AS six
          FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS DOUBLE) / 100 AS total_revenue,
           CAST(2 * six - (n + 1) * sx AS DOUBLE)
               / CAST(n * sx AS DOUBLE) AS gini
    FROM s
    """,
)
def customers_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini) over customers — the 'how top-heavy
    is the purchasing base' inequality readout, from the exact rank
    formula gini = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) with xᵢ sorted
    ascending. All sums ride exact integer cents in DECIMAL(38,0) /
    HUGEINT; gini is ONE division of exact integers.

    Plan shape at 100 TB — the global rank NEVER funnels the data into
    one partition: the per-customer aggregate range-repartitions on
    (cents, custkey) (a strict total order: custkey breaks ties), each
    range partition computes LOCAL ranks, and the K per-partition rank
    offsets — folded in-plan and broadcast back (skew.global_prefix) —
    make them exact global ranks i; Σ i·xᵢ is then one 1-row agg. No
    single-partition window anywhere in the plan."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
        ).alias("cents")
    )
    ranked = global_prefix(rev, ["cents", "o_custkey"], {"i": F.lit(1)})
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("six"),
    )
    n = F.col("n").cast("decimal(38,0)")
    return s.select(
        F.col("n").alias("n_customers"),
        (F.col("sx").cast("double") / F.lit(100.0)).alias("total_revenue"),
        (
            (F.lit(2).cast("decimal(38,0)") * F.col("six")
             - (n + F.lit(1)) * F.col("sx")).cast("double")
            / (n * F.col("sx")).cast("double")
        ).alias("gini"),
    )


@register(
    "orders_lineitem_reconciliation",
    oracle="""
    WITH line AS (
        SELECT l_orderkey,
               SUM(CAST(round(
                   l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100
               ) AS HUGEINT)) AS line_cents
        FROM lineitem GROUP BY l_orderkey),
    o AS (
        SELECT o.o_orderstatus,
               CAST(round(o.o_totalprice * 100) AS HUGEINT) AS head_cents,
               l.line_cents
        FROM orders o LEFT JOIN line l ON l.l_orderkey = o.o_orderkey),
    d AS (
        SELECT o_orderstatus,
               line_cents IS NULL AS orphan,
               COALESCE(head_cents - line_cents, 0) AS delta
        FROM o)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphan_orders,
           CAST(SUM(CASE WHEN NOT orphan AND abs(delta) > 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           CAST(SUM(delta) AS DOUBLE) / 100 AS total_drift,
           CAST(MAX(abs(delta)) AS DOUBLE) / 100 AS max_abs_drift
    FROM d GROUP BY o_orderstatus
    """,
)
def orders_lineitem_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header/detail reconciliation audit — per order status, how far
    `o_totalprice` drifts from the lineitem-derived total
    Σ extprice·(1−disc)·(1+tax), plus headers with NO detail rows —
    the data-quality gate a warehouse runs before trusting a feed
    (and a useful property of THIS synthetic corpus: every order
    drifts, which the report quantifies instead of hiding).

    Determinism: the per-line money value is ONE fixed float
    expression tree over the raw doubles (each *, correctly rounded
    IEEE, so bit-equal cross-engine) rounded to integer cents; the
    per-order sums are exact int64 (a single order is nowhere near
    2^63 cents) and only the corpus-wide drift sum widens to
    DECIMAL(38,0)/HUGEINT; the reported drift is a single final
    division.

    Plan shape at 100 TB: one lineitem agg keyed l_orderkey (map-side
    partials), one LEFT join to the (smaller) orders head — both sides
    key-partitioned, no window, final agg is status-keyed (handful of
    groups)."""
    # hot path stays int64 (a single line item / order is nowhere near
    # 2^63 cents); only the corpus-wide drift sum widens to decimal
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))
            * F.lit(100.0)
        )
        .cast("bigint")
        .alias("cents"),
    )
    line = l.groupBy("l_orderkey").agg(F.sum("cents").alias("line_cents"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "head_cents"
        ),
    )
    d = o.join(line, o.o_orderkey == line.l_orderkey, "left").select(
        "o_orderstatus",
        F.col("line_cents").isNull().alias("orphan"),
        F.coalesce(
            F.col("head_cents") - F.col("line_cents"), F.lit(0)
        ).alias("delta"),
    )
    return d.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("orphan").cast("int")).cast("bigint").alias(
            "n_orphan_orders"
        ),
        F.sum(
            (~F.col("orphan") & (F.abs("delta") > 1)).cast("int")
        )
        .cast("bigint")
        .alias("n_mismatched"),
        (
            F.sum(F.col("delta").cast("decimal(38,0)")).cast("double")
            / F.lit(100.0)
        ).alias("total_drift"),
        (F.max(F.abs("delta")).cast("double") / F.lit(100.0)).alias(
            "max_abs_drift"
        ),
    )


@register(
    "orders_skyline_dominators",
    oracle="""
    WITH o2 AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
               o_orderdate
        FROM orders),
    pc AS (SELECT price_cents, MIN(o_orderdate) AS md
           FROM o2 GROUP BY price_cents),
    w AS (SELECT price_cents, md,
                 MIN(md) OVER (ORDER BY price_cents DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS shm
          FROM pc)
    SELECT o2.o_orderkey, o2.price_cents, o2.o_orderdate
    FROM o2 JOIN w ON o2.price_cents = w.price_cents
    WHERE o2.o_orderdate = w.md
      AND (w.shm IS NULL OR o2.o_orderdate < w.shm)
    """,
)
def orders_skyline_dominators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto-dominance) query: the orders no other order beats
    on BOTH dimensions — maximize price, minimize date ("the largest,
    earliest orders"). An order is dominated iff some order has
    price ≥ AND date ≤ with at least one strict; the skyline operator
    Spark lacks, decomposed into relational pieces: a row survives iff
    (a) no strictly-higher-priced order is at-or-before its date —
    equivalently its date < the suffix-min date over higher prices —
    and (b) no same-priced order is strictly earlier (its date equals
    the per-price min).

    Plan shape at 100 TB — the suffix-min over prices is NEVER a global
    window: per-price (cents, min_date) is one hash agg; that
    price-distinct frame range-partitions descending, each partition
    computes a LOCAL running min, and partition_prefix_min folds the K
    per-partition mins in-plan (the global_prefix offsets pattern, with
    MIN for SUM) so global suffix-min = least(local, prior-partition
    min). The surviving price set is skyline-sized — its join back to
    orders broadcasts."""

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
        "o_orderdate",
    )
    pc = o.groupBy("price_cents").agg(F.min("o_orderdate").alias("md"))
    r = pc.repartitionByRange(
        spark.sparkContext.defaultParallelism, F.col("price_cents").desc()
    ).withColumn("pid", F.spark_partition_id())
    lw = (
        Window.partitionBy("pid")
        .orderBy(F.col("price_cents").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = materialize_once(r.withColumn("lshm", F.min("md").over(lw)))
    partials = loc.groupBy("pid").agg(F.min("md").alias("pmin"))
    prior = partition_prefix_min(partials, "pid", "pmin")
    sky_prices = (
        loc.join(F.broadcast(prior), "pid")
        # least() skips nulls, so a partition-leading row with no local
        # predecessor folds to the prior-partition min alone
        .withColumn("shm", F.least("lshm", "__prior_min"))
        .filter(F.col("shm").isNull() | (F.col("md") < F.col("shm")))
        .select("price_cents", "md", "shm")
    )
    return (
        o.join(F.broadcast(sky_prices), "price_cents")
        .filter(
            (F.col("o_orderdate") == F.col("md"))
            & (F.col("shm").isNull() | (F.col("o_orderdate") < F.col("shm")))
        )
        .select("o_orderkey", "price_cents", "o_orderdate")
    )


@register(
    "parts_abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS cents
        FROM lineitem GROUP BY l_partkey),
    t AS (SELECT SUM(cents) AS total FROM rev),
    c AS (SELECT l_partkey, cents,
                 SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
          FROM rev),
    k AS (SELECT cents,
                 CASE WHEN cum * 100 <= total * 80 THEN 'A'
                      WHEN cum * 100 <= total * 95 THEN 'B'
                      ELSE 'C' END AS abc_class
          FROM c CROSS JOIN t)
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(cents) * 1000000 // (SELECT total FROM t) AS BIGINT)
               AS share_ppm
    FROM k GROUP BY abc_class
    """,
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (80/15/5) inventory classification by part revenue — the
    planner's Pareto cut: parts are ranked by revenue descending and
    split where cumulative share crosses 80% (A) and 95% (B). The
    boundary test is exact integer cross-multiplication
    (cum·100 ≤ total·80), never a float share.

    Plan shape at 100 TB — same distributed-global-rank machinery as
    customers_gini_revenue: per-part cents is one hash agg; the frame
    range-partitions on (cents DESC, partkey), each partition computes
    a LOCAL running sum, and skew.global_prefix folds the K
    per-partition revenue sums in-plan into cumulative offsets and the
    total — global cum = offset[pid] + local. No single-partition
    window; the 3-row class rollup is a partial agg."""

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100)
        .cast("decimal(38,0)")
        .alias("c"),
    )
    rev = li.groupBy("l_partkey").agg(F.sum("c").alias("cents"))
    j = global_prefix(
        rev, [F.col("cents").desc(), "l_partkey"], {"cum": F.col("cents")}
    ).withColumnRenamed("cum_total", "total")
    cum = F.col("cum")
    cls = (
        F.when(cum * 100 <= F.col("total") * 80, "A")
        .when(cum * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    j = j.withColumn("abc_class", cls)
    return j.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
        F.expr("CAST((sum(cents) * 1000000) div first(total) AS BIGINT)").alias(
            "share_ppm"
        ),
    )


# round(log10(1 + 1/d) * 1e6) for d = 1..9 — they sum to exactly 1e6,
# so observed and expected ppm columns are directly comparable
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE = (
    "CASE first_digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    + " END"
)


@register(
    "orders_benford_digits",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
              AS first_digit
          FROM c),
    g AS (SELECT first_digit, COUNT(*) AS n FROM d GROUP BY first_digit),
    t AS (SELECT SUM(n) AS total FROM g)
    SELECT first_digit,
           CAST(n AS BIGINT) AS n_orders,
           CAST(n * 1000000 // total AS BIGINT) AS observed_ppm,
           CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm,
           CAST(ABS(n * 1000000 // total - ({_BENFORD_CASE})) AS BIGINT)
               AS abs_dev_ppm
    FROM g CROSS JOIN t
    """,
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    fraud/data-quality screen finance pipelines run on monetary
    columns: the leading significant digit of naturally-occurring
    amounts should follow P(d) = log10(1 + 1/d). Expected frequencies
    are INLINED integer-ppm literals (identical in both engines —
    no runtime log), observed shares are integer division, and the
    per-digit absolute deviation is exact.

    Plan shape at 100 TB: first digit extracted in codegen (string head
    of the integer cents — no float log10/pow in the hot path), ONE
    9-group hash agg with map-side partials, and a broadcast of the
    1-row total. Output is 9 rows."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("first_digit")
    )
    g = d.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n"))
    t = g.agg(F.sum("n").alias("total"))
    j = g.crossJoin(F.broadcast(t))
    obs = F.expr("n * 1000000 div total")
    exp_ppm = F.expr(_BENFORD_CASE)
    return j.select(
        "first_digit",
        F.col("n").cast("bigint").alias("n_orders"),
        obs.cast("bigint").alias("observed_ppm"),
        exp_ppm.cast("bigint").alias("benford_ppm"),
        F.abs(obs - exp_ppm).cast("bigint").alias("abs_dev_ppm"),
    )


@register(
    "lineitem_weighted_median_price",
    oracle="""
    WITH x AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS w,
               l_orderkey, l_linenumber
        FROM lineitem),
    t AS (SELECT SUM(w) AS wt FROM x),
    c AS (SELECT cents, w,
                 SUM(w) OVER (ORDER BY cents, l_orderkey, l_linenumber
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
          FROM x)
    SELECT CAST(t.wt AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN c.cum >= (t.wt + 1) // 2
                         THEN c.cents END) AS BIGINT)
               AS median_price_cents
    FROM c CROSS JOIN t GROUP BY t.wt
    """,
)
def lineitem_weighted_median_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT quantity-weighted median line price — the 'typical unit of
    goods' price statistic where each row counts with its physical
    quantity, not once (the same lower-weighted-quantile rule DuckDB's
    window formulation mirrors: the first row, in (cents, orderkey,
    linenumber) order, whose running weight reaches ceil(W/2)).

    Plan: skew.weighted_order_statistic, the driver fold — one collect
    of K per-partition weight sums (K = partition count) locates the
    crossing partition, one bounded filter+limit fetches the crossing
    row. It measured fastest at sf0.1 (OPTIMIZATION_r15.md); an
    in-plan shape over the cents-aggregated frame won only at sf1 and
    was removed."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    total, row = weighted_order_statistic(
        li, ["cents", "l_orderkey", "l_linenumber"], "w", 1, 2
    )
    if row is None:
        return spark.createDataFrame(
            [], "total_weight bigint, median_price_cents bigint"
        )
    return spark.createDataFrame(
        [(int(total), int(row["cents"]))],
        "total_weight bigint, median_price_cents bigint",
    )


@register(
    "supplier_hhi_by_nation",
    oracle="""
    WITH v AS (
        SELECT s.s_nationkey, l.l_suppkey,
               SUM(CAST(round(l.l_extendedprice * 100) AS HUGEINT)) AS cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey),
    tot AS (SELECT s_nationkey, SUM(cents) AS total, COUNT(*) AS n_sup
            FROM v GROUP BY s_nationkey),
    sh AS (SELECT v.s_nationkey, tot.n_sup, tot.total,
                  (v.cents * 1000000) // tot.total AS share_ppm
           FROM v JOIN tot ON v.s_nationkey = tot.s_nationkey)
    SELECT n.n_name,
           CAST(sh.n_sup AS BIGINT) AS n_suppliers,
           CAST(sh.total AS BIGINT) AS revenue_cents,
           CAST(SUM(sh.share_ppm * sh.share_ppm) // 1000000 AS BIGINT)
               AS hhi_ppm
    FROM sh JOIN nation n ON sh.s_nationkey = n.n_nationkey
    GROUP BY n.n_name, sh.n_sup, sh.total
    """,
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per nation —
    the antitrust-style 'is this market one supplier in a trench coat'
    readout: HHI = Σ shareᵢ² over each nation's suppliers, here in
    exact integer ppm (share_ppm via truncating division, the square
    sum scaled back by 1e6 — both divisions mirrored verbatim in the
    oracle, so the statistic is bit-equal cross-engine).

    Plan shape at 100 TB: lineitem ⋈ broadcast(supplier) (dim-sized),
    ONE (nation, supplier)-keyed hash agg with map-side partials —
    shuffle volume is supplier-distinct, not lineitem-sized — then a
    nation-keyed rollup of supplier rows and a broadcast nation-name
    join. No windows, no self-joins."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100)
        .cast("decimal(38,0)")
        .alias("c"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    v = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("c").alias("cents"))
    )
    v = materialize_once(v)
    tot = v.groupBy("s_nationkey").agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n_sup")
    )
    sh = v.join(tot, "s_nationkey").withColumn(
        "share_ppm", F.expr("(cents * 1000000) div total")
    )
    agg = sh.groupBy("s_nationkey", "n_sup", "total").agg(
        F.expr(
            "CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)"
        ).alias("hhi_ppm")
    )
    return agg.join(F.broadcast(n), agg["s_nationkey"] == n["n_nationkey"]).select(
        "n_name",
        F.col("n_sup").cast("bigint").alias("n_suppliers"),
        F.col("total").cast("bigint").alias("revenue_cents"),
        "hhi_ppm",
    )


@register(
    "events_props_variant_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT)
               AS n_with_k,
           CAST(MIN(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def events_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: the
    JSON props column parses ONCE into the open-schema binary Variant
    encoding (`parse_json`) and typed paths extract with
    `try_variant_get` — the modern replacement for per-expression
    `get_json_object` re-parsing (each get_json_object call re-parses
    the string; Variant parses once and extracts from the binary form,
    the same access-path economics the Parquet variant shredding spec
    targets at rest). Sibling of json_extract_events (the classic
    string-path surface).

    Plan shape at 100 TB: parse + extract are row-local codegen
    expressions feeding ONE event_type-keyed hash agg with map-side
    partials — no shuffle beyond the ≤5-group rollup."""
    e = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("k").cast("bigint").alias("n_with_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
    )


@register(
    "events_variant_multipath",
    oracle="""
    WITH doc AS (
        SELECT '{"meta":{"t":"' || event_type || '","k":'
               || CAST(props ->> '$.k' AS BIGINT)
               || '},"vals":[' || CAST(round(value * 100) AS BIGINT)
               || ',' || 2 * CAST(round(value * 100) AS BIGINT)
               || ']}' AS j
        FROM events)
    SELECT j ->> '$.meta.t' AS t,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(j ->> '$.meta.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(j ->> '$.vals[0]' AS BIGINT)) AS BIGINT)
               AS sum_v0,
           CAST(SUM(CAST(j ->> '$.vals[1]' AS BIGINT)) AS BIGINT)
               AS sum_v1,
           CAST(COUNT(DISTINCT 1) AS BIGINT) AS schema_kinds
    FROM doc GROUP BY t
    """,
)
def events_variant_multipath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT surface, broadened (VERDICT r11 next #7): a NESTED
    semi-structured document — object-in-object plus a JSON array —
    parses ONCE into the binary Variant encoding, and four typed paths
    extract from it: two nested object keys (`$.meta.t`, `$.meta.k`)
    and two array ELEMENT paths (`$.vals[0]`, `$.vals[1]`), plus
    `schema_of_variant` introspection (all rows share one constructed
    shape, so the per-group distinct schema count must be exactly 1 —
    the oracle encodes that invariant as COUNT(DISTINCT 1)). The
    document is synthesized deterministically from event columns
    (integer cents — no float formatting ambiguity), and DuckDB runs
    the SAME json-path extraction over the SAME string, so both
    engines' path semantics are compared end-to-end, not just the
    arithmetic.

    Plan shape at 100 TB: document build + one parse_json + four
    variant_gets are row-local codegen expressions; everything feeds a
    single event_type-keyed hash agg with map-side partials — the only
    shuffle is the ≤5-group rollup."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    doc = F.concat(
        F.lit('{"meta":{"t":"'),
        F.col("event_type"),
        F.lit('","k":'),
        k.cast("string"),
        F.lit('},"vals":['),
        cents.cast("string"),
        F.lit(","),
        (cents * 2).cast("string"),
        F.lit("]}"),
    )
    v = F.parse_json(doc)
    d = e.select(
        F.try_variant_get(v, "$.meta.t", "string").alias("t"),
        F.try_variant_get(v, "$.meta.k", "bigint").alias("mk"),
        F.try_variant_get(v, "$.vals[0]", "bigint").alias("v0"),
        F.try_variant_get(v, "$.vals[1]", "bigint").alias("v1"),
        F.schema_of_variant(v).alias("shape"),
    )
    return d.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("mk").cast("bigint").alias("sum_k"),
        F.sum("v0").cast("bigint").alias("sum_v0"),
        F.sum("v1").cast("bigint").alias("sum_v1"),
        F.countDistinct("shape").cast("bigint").alias("schema_kinds"),
    )


@register(
    "orders_daily_autocorr_lag1",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(SUM(CAST(round(o_totalprice * 100) AS HUGEINT))
                    AS HUGEINT) AS c
        FROM orders GROUP BY o_orderdate),
    pairs AS (
        SELECT a.c AS x, b.c AS y
        FROM daily a JOIN daily b ON b.d = a.d + INTERVAL 1 DAY),
    s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM pairs)
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
               AS corr_lag1
    FROM s
    """,
)
def orders_daily_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily revenue series — the
    time-series health readout (is tomorrow's revenue predicted by
    today's?). All moments accumulate as EXACT integers (cents sums in
    DECIMAL(38,0)/HUGEINT — daily-cents squares overflow int64 at
    scale), and the Pearson ratio is ONE identical double expression on
    both engines, so the result is bit-reproducible regardless of
    aggregation order.

    Plan shape at 100 TB: one orderdate-keyed hash agg collapses the
    fact table to ≤|calendar| daily rows; the lag pairing is an
    equi-self-join on d+1 (never a global sort or single-partition
    window); the moment rollup is a 1-row partial agg."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)").alias("c"),
    )
    # materialize the ≤|calendar|-row daily frame once: both lag-join
    # branches reference it, and without the barrier each would re-scan
    # and re-aggregate the full fact table (audited: 4 scans → 1)
    daily = materialize_once(o.groupBy("o_orderdate").agg(F.sum("c").alias("c")))
    a = daily.select(F.col("o_orderdate").alias("d"), F.col("c").alias("x"))
    b = daily.select(
        F.date_sub(F.col("o_orderdate"), 1).alias("d"), F.col("c").alias("y")
    )
    s = (
        a.join(b, "d")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
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
        ).alias("corr_lag1"),
    )


@register(
    "lineitem_mode_shipmonth",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag,
               CAST(month(l_shipdate) AS BIGINT) AS ship_month,
               COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2),
    ranked AS (
        SELECT l_returnflag, ship_month, n,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY n DESC, ship_month) AS rn
        FROM counts)
    SELECT l_returnflag, ship_month AS mode_ship_month,
           CAST(n AS BIGINT) AS n_items
    FROM ranked WHERE rn = 1
    """,
)
def lineitem_mode_shipmonth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group (busiest ship month per return flag, lowest
    month as tie-break) — the categorical analog of the exact median.
    Never a sketch: the (flag, month) count table is tiny after one
    hash agg, so the exact answer costs nothing.

    Plan shape at 100 TB: one (flag, month)-keyed hash agg with
    map-side partials collapses the fact table to ≤|flags|·12 rows
    (36 here); the rank window runs on that metadata-sized frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.month("l_shipdate").cast("bigint").alias("ship_month"),
    )
    counts = li.groupBy("l_returnflag", "ship_month").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("ship_month")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("ship_month").alias("mode_ship_month"),
            F.col("n").cast("bigint").alias("n_items"),
        )
    )


@register(
    "nation_segment_entropy",
    oracle="""
    WITH counts AS (
        SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment),
    tot AS (
        SELECT c_nationkey, SUM(n) AS total, COUNT(*) AS n_segments,
               SUM(n * ln(CAST(n AS DOUBLE))) AS snln
        FROM counts GROUP BY c_nationkey)
    SELECT c_nationkey,
           CAST(n_segments AS BIGINT) AS n_segments,
           CAST(total AS BIGINT) AS n_customers,
           CAST(round((ln(CAST(total AS DOUBLE))
                       - snln / CAST(total AS DOUBLE)) * 1000000)
                AS BIGINT) AS entropy_ppm
    FROM tot
    """,
)
def nation_segment_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each nation's market-segment mix (nats,
    integer ppm) — the diversity readout that flags one-segment
    nations. Uses the decomposition H = ln(N) − (Σ nᵢ·ln nᵢ)/N so the
    only float accumulation is Σ nᵢ·ln nᵢ over ≤5 terms per nation;
    the final ppm rounding absorbs any last-ulp association
    difference between engines.

    Plan shape at 100 TB: one (nation, segment)-keyed hash agg with
    map-side partials, then a nation-keyed rollup of ≤5 rows each —
    both shuffles are key-bounded, nothing global."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.groupBy("c_nationkey").agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("n") * F.log(F.col("n").cast("double"))).alias("snln"),
    )
    h = F.log(F.col("total").cast("double")) - F.col("snln") / F.col(
        "total"
    ).cast("double")
    return tot.select(
        "c_nationkey",
        F.col("n_segments").cast("bigint").alias("n_segments"),
        F.col("total").cast("bigint").alias("n_customers"),
        F.round(h * 1000000).cast("bigint").alias("entropy_ppm"),
    )


@register(
    "customer_interpurchase_gap_stats",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate,
                                                         o_orderkey),
                         o_orderdate) AS gap
        FROM orders)
    SELECT CAST(COUNT(gap) AS BIGINT) AS n_gaps,
           CAST(MIN(gap) AS BIGINT) AS min_gap_days,
           CAST(MAX(gap) AS BIGINT) AS max_gap_days,
           CAST(SUM(CAST(gap AS HUGEINT)) * 1000000
                // CAST(COUNT(gap) AS HUGEINT) AS BIGINT)
               AS avg_gap_ppm_days
    FROM gaps
    """,
)
def customer_interpurchase_gap_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-purchase gap statistics — days between a customer's
    consecutive orders (the recency signal RFM/churn models consume).
    The mean rides exact integer day-sums with a ppm integer division;
    no float accumulation anywhere.

    Plan shape at 100 TB: the lag window partitions BY CUSTOMER — the
    state per task is one prior row per key, fully distributed (never
    a global sort); the stats rollup is a 1-row partial agg."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap")
    )
    return gaps.agg(
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.min("gap").cast("bigint").alias("min_gap_days"),
        F.max("gap").cast("bigint").alias("max_gap_days"),
        F.expr(
            "CAST((SUM(CAST(gap AS DECIMAL(38,0))) * 1000000) "
            "div CAST(COUNT(gap) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("avg_gap_ppm_days"),
    )


@register(
    "orders_weekday_seasonality",
    oracle="""
    SELECT CAST(isodow(o_orderdate) AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS BIGINT)
               AS revenue_cents
    FROM orders GROUP BY 1
    """,
)
def orders_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume and revenue by ISO weekday (Mon=1..Sun=7) — the
    calendar-seasonality readout. Spark's `weekday()` is 0-based Monday
    and DuckDB's `isodow` is 1-based Monday, so the +1 is the entire
    cross-engine mapping; sums ride exact integer cents.

    Plan shape at 100 TB: one 7-group hash agg with map-side partials —
    shuffle volume is 7 rows per input partition."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            (F.weekday("o_orderdate") + 1).cast("bigint").alias("dow"),
            F.round(F.col("o_totalprice") * 100)
            .cast("decimal(38,0)")
            .alias("c"),
        )
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("c").cast("bigint").alias("revenue_cents"),
        )
    )


@register(
    "part_brand_type_chi2",
    oracle="""
    WITH o AS (
        SELECT p_brand, p_type, CAST(COUNT(*) AS BIGINT) AS obs
        FROM part GROUP BY 1, 2),
    r AS (SELECT p_brand, SUM(obs) AS rt FROM o GROUP BY 1),
    c AS (SELECT p_type, SUM(obs) AS ct FROM o GROUP BY 1),
    t AS (SELECT SUM(obs) AS n FROM o),
    cells AS (
        SELECT CAST(o.obs AS DOUBLE) AS od,
               CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
                   / CAST(t.n AS DOUBLE) AS e
        FROM o JOIN r USING (p_brand) JOIN c USING (p_type)
               CROSS JOIN t)
    SELECT CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS n_brands,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_types,
           CAST(((SELECT COUNT(*) FROM r) - 1)
                * ((SELECT COUNT(*) FROM c) - 1) AS BIGINT) AS dof,
           CAST(round(SUM((od - e) * (od - e) / e) * 1000000) AS BIGINT)
               AS chi2_ppm
    FROM cells
    """,
)
def part_brand_type_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence statistic for the brand ×
    type contingency table — the categorical-association test a
    curation pipeline runs before trusting a stratification key.
    Observed counts are exact integers; expected values and the
    statistic are computed with the IDENTICAL double expression on both
    engines ((o−e)²/e with e = r·c/N in the same operation order), and
    the ppm rounding absorbs cross-engine summation-order ulps.

    Plan shape at 100 TB: one (brand, container) hash agg collapses the
    table to ≤|brands|·|types| cells; marginals are two rollups of
    that cell table, broadcast back; the statistic is a 1-row agg over
    the cells. Nothing rescans the fact table."""
    p = load_table(spark, sf_dir, "part").select("p_brand", "p_type")
    o = materialize_once(
        p.groupBy("p_brand", "p_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("obs")
        )
    )
    r = o.groupBy("p_brand").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("p_type").agg(F.sum("obs").alias("ct"))
    t = o.agg(F.sum("obs").alias("n"))
    cells = (
        o.join(F.broadcast(r), "p_brand")
        .join(F.broadcast(c), "p_type")
        .crossJoin(F.broadcast(t))
        .select(
            F.col("obs").cast("double").alias("od"),
            (
                F.col("rt").cast("double")
                * F.col("ct").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
        )
    )
    nb = r.count()  # one cardinality scalar (≤ dozens of brands)
    nc = c.count()  # one cardinality scalar (≤ dozens of types)
    return cells.agg(
        F.lit(nb).cast("bigint").alias("n_brands"),
        F.lit(nc).cast("bigint").alias("n_types"),
        F.lit((nb - 1) * (nc - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sum(
                (F.col("od") - F.col("e"))
                * (F.col("od") - F.col("e"))
                / F.col("e")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("chi2_ppm"),
    )


@register(
    "supplier_acctbal_mad_outliers",
    oracle="""
    WITH b AS (
        SELECT s_suppkey, CAST(round(s_acctbal * 100) AS BIGINT) AS c
        FROM supplier),
    m AS (
        SELECT c AS med FROM (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c, s_suppkey) AS rn,
                   COUNT(*) OVER () AS n
            FROM b) WHERE rn = (n + 1) // 2),
    d AS (SELECT b.s_suppkey, abs(b.c - m.med) AS dev, b.c, m.med
          FROM b CROSS JOIN m),
    m2 AS (
        SELECT dev AS mad FROM (
            SELECT dev, s_suppkey,
                   ROW_NUMBER() OVER (ORDER BY dev, s_suppkey) AS rn,
                   COUNT(*) OVER () AS n
            FROM d) WHERE rn = (n + 1) // 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(MIN(d.med) AS BIGINT) AS median_cents,
           CAST(MIN(m2.mad) AS BIGINT) AS mad_cents,
           CAST(COUNT(CASE WHEN d.dev * 10000 > 3 * 14826 * m2.mad
                           THEN 1 END) AS BIGINT) AS n_outliers
    FROM d CROSS JOIN m2
    """,
)
def supplier_acctbal_mad_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust outlier count via the median-absolute-deviation rule
    (|x − median| > 3·1.4826·MAD — the robust z-score): immune to the
    very outliers it hunts, unlike stddev fences. Both medians are
    EXACT discrete order statistics at position ceil(n/2) over a strict
    total order, computed by `exact_order_statistics` (range partitions
    + K driver-held counts + one filter — never a global sort), and the
    1.4826 consistency constant rides as the integer cross-product
    dev·10⁴ > 3·14826·MAD, so the verdict is float-free.

    Plan shape at 100 TB: two order-statistic passes (each one range
    repartition of a narrow (cents, key) frame + K scalars) and one
    1-row rollup with the two medians broadcast as literals."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100).cast("bigint").alias("c"),
    )
    stats = exact_order_statistics(s, ["c", "s_suppkey"], [(1, 2)])
    if not stats:
        # no suppliers: counts are 0 and the medians NULL, as in the oracle
        return spark.createDataFrame(
            [(0, None, None, 0)],
            "n_suppliers bigint, median_cents bigint, mad_cents bigint, "
            "n_outliers bigint",
        )
    [(_, _, row)] = stats
    med = int(row["c"])
    d = s.select(
        "s_suppkey", F.abs(F.col("c") - F.lit(med)).alias("dev")
    )
    [(_, _, row2)] = exact_order_statistics(
        d, ["dev", "s_suppkey"], [(1, 2)]
    )
    mad = int(row2["dev"])
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.lit(med).cast("bigint").alias("median_cents"),
        F.lit(mad).cast("bigint").alias("mad_cents"),
        F.count(
            F.when(F.col("dev") * 10000 > 3 * 14826 * mad, 1)
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


@register(
    "orders_qoq_growth",
    oracle="""
    WITH q AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(quarter(o_orderdate) AS BIGINT) AS qt,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS c
        FROM orders GROUP BY 1, 2),
    l AS (SELECT yr, qt, c, lag(c) OVER (ORDER BY yr, qt) AS p FROM q)
    SELECT yr, qt, CAST(c AS BIGINT) AS revenue_cents,
           CAST(CASE WHEN p IS NULL THEN NULL
                     WHEN c >= p THEN (c - p) * 1000000 // p
                     ELSE -((p - c) * 1000000 // p) END AS BIGINT)
               AS qoq_ppm
    FROM l
    """,
)
def orders_qoq_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-over-quarter revenue growth in exact integer ppm — the
    BI staple. Growth is truncating integer division applied to the
    POSITIVE magnitude with the sign re-attached, because Spark's
    `div` truncates toward zero while DuckDB's `//` floors: they only
    agree on non-negative operands, so a naive (c−p)·10⁶ div p would
    diverge on every down quarter.

    Plan shape at 100 TB: one (year, quarter)-keyed hash agg with
    map-side partials collapses the fact table to ≤4·|years| rows; the
    lag pairing is an equi-self-join on the previous quarter INDEX
    (yr·4 + qt − 1), the same join-not-global-window shape as
    orders_daily_autocorr_lag1 — no single-partition window even on
    the calendar-bounded frame (the plan gate rejects the shape on
    principle)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.quarter("o_orderdate").cast("bigint").alias("qt"),
        F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)").alias("c"),
    )
    q = materialize_once(
        o.groupBy("yr", "qt")
        .agg(F.sum("c").alias("c"))
        .withColumn("idx", F.col("yr") * 4 + F.col("qt") - 1)
    )
    prev = q.select((F.col("idx") + 1).alias("idx"), F.col("c").alias("p"))
    l = q.join(prev, "idx", "left")
    growth = F.when(F.col("p").isNull(), F.lit(None)).otherwise(
        F.when(F.col("c") >= F.col("p"), F.lit(1)).otherwise(F.lit(-1))
        * F.expr("CAST((abs(c - p) * 1000000) div p AS BIGINT)")
    )
    return l.select(
        "yr",
        "qt",
        F.col("c").cast("bigint").alias("revenue_cents"),
        growth.cast("bigint").alias("qoq_ppm"),
    )


@register(
    "customer_daily_streaks_histogram",
    oracle="""
    WITH d AS (
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS dt
        FROM orders),
    r AS (
        SELECT o_custkey, dt,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY dt)
                   AS rn
        FROM d),
    s AS (
        SELECT o_custkey, dt - CAST(rn AS INTEGER) AS anchor,
               COUNT(*) AS len
        FROM r GROUP BY o_custkey, dt - CAST(rn AS INTEGER))
    SELECT CAST(len AS BIGINT) AS streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM s GROUP BY 1
    """,
)
def customer_daily_streaks_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consecutive-order-day streaks per customer, as a length
    histogram — the classic gaps-and-islands pattern as a first-class
    relational query (the same machinery the substring-dedup run
    recovery and VAD segmentation use internally): island anchor =
    date − row_number days, so every maximal run of consecutive dates
    shares one anchor.

    Plan shape at 100 TB: the distinct and the row_number window both
    partition BY CUSTOMER (state = one counter per key, fully
    distributed); the streak agg is keyed on (customer, anchor); the
    histogram is a ≤ max-streak-length rollup."""
    d = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", F.col("o_orderdate").cast("date").alias("dt"))
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("dt")
    r = d.withColumn("rn", F.row_number().over(w))
    s = r.groupBy(
        "o_custkey", F.date_sub(F.col("dt"), F.col("rn")).alias("anchor")
    ).agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy(F.col("len").cast("bigint").alias("streak_days")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
    )


@register(
    "customer_cohort_ltv",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               CAST(round(o_totalprice * 100) AS HUGEINT) AS c
        FROM orders),
    first AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY o_custkey)
    SELECT f.m0 AS cohort_month,
           CAST((year(o.m) * 12 + month(o.m))
                - (year(f.m0) * 12 + month(f.m0)) AS BIGINT) AS age_months,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS active_customers,
           CAST(SUM(o.c) AS BIGINT) AS revenue_cents
    FROM o JOIN first f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle — customers grouped by FIRST-
    ORDER month, revenue and active count tracked by cohort age in
    months (the acquisition-quality readout; events_retention_cohorts
    is its activity-based sibling). Month index is the portable
    integer year·12+month, exact cents in DECIMAL(38,0)/HUGEINT.

    Plan shape at 100 TB: one (custkey) hash agg for the cohort
    anchor, one custkey-keyed equi-join back to the monthly rows (both
    sides shuffle on the same key — AQE-skew-splittable, no broadcast
    needed), then a (cohort, age) rollup whose distinct-count runs as
    the two-phase partial agg."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.trunc(F.col("o_orderdate"), "month").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)").alias("c"),
    )
    o = materialize_once(o)
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    j = o.join(first, "o_custkey")
    age = (F.year("m") * 12 + F.month("m")) - (
        F.year("m0") * 12 + F.month("m0")
    )
    return j.groupBy(
        F.col("m0").alias("cohort_month"),
        age.cast("bigint").alias("age_months"),
    ).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("active_customers"),
        F.sum("c").cast("bigint").alias("revenue_cents"),
    )


@register(
    "customer_spend_deciles",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS cents
        FROM orders GROUP BY o_custkey),
    r AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn,
               COUNT(*) OVER () AS n
        FROM rev)
    SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM r GROUP BY 1
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend deciles — the 'what does each tenth of the base
    buy' concentration table (the decile view of customers_gini_
    revenue's single coefficient). Decile membership is POSITIONAL:
    (rank−1)·10 div n over the strict (cents, custkey) total order, so
    ties split deterministically and every decile holds ⌊n/10⌋ or
    ⌈n/10⌉ customers exactly.

    Plan shape at 100 TB: the global rank never funnels into one
    partition — per-customer cents range-repartitions on (cents,
    custkey), LOCAL running counts + K broadcast offsets give exact
    global ranks and the total n (skew.global_prefix, the gini idiom),
    and the decile rollup is a 10-group agg."""

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
            ).alias("cents")
        )
    )
    g = global_prefix(
        rev, ["cents", "o_custkey"], {"rn": F.lit(1)}
    ).withColumnRenamed("rn_total", "n")
    return g.groupBy(
        F.expr("CAST(((rn - 1) * 10) div n AS BIGINT)").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


_FK_LINKS = [
    # child, child_key, parent, parent_key
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_oracle() -> str:
    parts = [
        f"""SELECT '{c}->{p}' AS fk,
               CAST((SELECT COUNT(*) FROM {c}) AS BIGINT) AS n_child,
               CAST((SELECT COUNT(*) FROM {c}
                     WHERE {ck} NOT IN (SELECT {pk} FROM {p}))
                    AS BIGINT) AS n_orphans"""
        for c, ck, p, pk in _FK_LINKS
    ]
    return " UNION ALL ".join(parts)


@register("referential_integrity_audit", oracle=_fk_oracle())
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every TPC-H foreign-key link
    in ONE result — the feed-trust gate a warehouse runs on landing
    (orders_lineitem_reconciliation audits VALUES; this audits KEYS).
    Each link reports child rows and orphans (children whose key has
    no parent).

    Plan shape at 100 TB: each link is ONE pass over the child — a
    LEFT OUTER join on its key (Catalyst broadcasts small parents —
    nation/region/supplier — and shuffles fact-fact links with AQE
    skew handling) whose single aggregate yields BOTH the child count
    and the orphan count (a null parent key marks the orphan). The
    r14 rewrite folds what was an anti-join agg PLUS a separate
    full-child count scan PLUS a crossJoin stitch per link into that
    one pass (guide §1.2 "don't compute things twice"; measured −43%
    at sf0.1, identical rows). The parent side is each link's PRIMARY
    key (TPC-H schema contract), so the left join cannot multiply
    child rows — the oracle's NOT IN spelling is likewise
    multiplicity-insensitive. Links evaluate independently (one union
    of seven tiny frames)."""
    out = None
    for c, ck, p, pk in _FK_LINKS:
        child = load_table(spark, sf_dir, c).select(ck)
        parent = load_table(spark, sf_dir, p).select(
            F.col(pk).alias("__pk")
        )
        row = (
            child.join(parent, F.col(ck) == F.col("__pk"), "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("__pk").isNull(), 1).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(
                F.lit(f"{c}->{p}").alias("fk"), "n_child", "n_orphans"
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


_PROFILE_COLS = [
    # the synthetic orders feed (TESTDATA.md) — 6 columns, not full
    # TPC-H (no clerk/shippriority/comment)
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS col,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM orders"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@register("orders_column_profile", oracle=_profile_oracle())
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the orders feed — exact null and
    distinct counts per column, the schema-drift / quality readout a
    pipeline snapshots per landing (ANALYZE's stats are NDV sketches;
    this is the exact audit).

    Plan shape at 100 TB: ONE scan — Spark plans the 9 count-distincts
    as a single expand (9× row multiplication of a projected narrow
    frame) with two-phase partial aggregation per (column, value), so
    no per-column rescan and no single-reducer funnel; the result is 9
    rows."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(
            (F.count(F.lit(1)) - F.count(F.col(c)))
            .cast("bigint")
            .alias(f"n_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("bigint").alias(f"d_{c}"))
    wide = o.agg(*aggs)
    stack = ", ".join(f"'{c}', n_{c}, d_{c}" for c in _PROFILE_COLS)
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS (col, n_nulls, n_distinct)"
    )


@register(
    "lineitem_price_index_laspeyres",
    oracle="""
    WITH py AS (
        SELECT l_partkey,
               CAST(year(l_shipdate) AS BIGINT) AS yr,
               SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS ep,
               SUM(CAST(round(l_quantity) AS HUGEINT)) AS q
        FROM lineitem GROUP BY 1, 2),
    unit AS (
        SELECT l_partkey, yr, q,
               (ep * 1000) // q AS millicents
        FROM py WHERE q > 0),
    base AS (
        SELECT l_partkey, millicents AS p0, q AS q0 FROM unit
        WHERE yr = (SELECT MIN(yr) FROM unit)),
    j AS (
        SELECT u.yr, u.millicents AS pt, b.p0, b.q0
        FROM unit u JOIN base b USING (l_partkey))
    SELECT yr,
           CAST(COUNT(*) AS BIGINT) AS n_common_parts,
           CAST((SUM(pt * q0) * 1000000) // SUM(p0 * q0) AS BIGINT)
               AS laspeyres_ppm
    FROM j GROUP BY yr
    """,
)
def lineitem_price_index_laspeyres(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Laspeyres price index per ship year — 'how much more does the
    BASE year's basket cost now', the classic fixed-basket inflation
    measure over the part catalog. Per (part, year) the unit price is
    truncated integer milli-cents (EP·1000 div Q — both engines
    truncate positives identically); the index is Σpₜ·q₀ / Σp₀·q₀ over
    parts present in both years, in truncated ppm. Base = first ship
    year.

    Plan shape at 100 TB: one (part, year) hash agg collapses the fact
    table; the base-year basket is a part-keyed equi-join (both sides
    shuffle on partkey — AQE-skew-splittable); the index is a ≤|years|
    rollup. Everything after the first agg is catalog-sized.

    Integer widths (the corr-matrix decimal rule, optimization r14 —
    measured −55% at sf0.1, identical rows): everything PER (part,
    year) rides bigint codegen — group sums are bounded because TPC-H
    lines-per-part is a CONSTANT (~30) independent of scale factor, so
    ep ≤ 30·10⁷ cents and the unit price ep·1000 div q ≤ ~10¹² — and
    per-row products millicents·q0 ≤ ~10¹⁶ stay far inside int64.
    Only the FINAL agg buffers (Σ over up-to-all-parts groups, which
    DOES grow with the catalog) are DECIMAL(38,0); per-row
    decimal×decimal would fall off codegen onto BigDecimal."""
    py = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey",
            F.year("l_shipdate").cast("bigint").alias("yr"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("ep"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"),
        )
    )
    unit = materialize_once(
        py.filter(F.col("q") > 0).select(
            "l_partkey",
            "yr",
            "q",
            F.expr("(ep * 1000) div q").alias("millicents"),
        )
    )
    base_yr = unit.agg(F.min("yr").alias("yr0"))
    base = (
        unit.crossJoin(F.broadcast(base_yr))
        .filter(F.col("yr") == F.col("yr0"))
        .select(
            "l_partkey",
            F.col("millicents").alias("p0"),
            F.col("q").alias("q0"),
        )
    )
    j = unit.join(base, "l_partkey")

    # Loud overflow fence on the bigint per-row products (VERDICT r14
    # "what's wrong #6"): the bigint-codegen fast path rests on the
    # documented lines-per-part input bound, which is a DATA property,
    # not an engine invariant — if an input ever breaks it, fail the
    # query instead of wrapping silently (non-ANSI bigint multiply
    # wraps). Two integer compares + one division per catalog-sized
    # row, all inside codegen; never fires on bound-respecting data.
    def _checked_mul(a: str, b: str) -> str:
        return (
            f"CASE WHEN {b} != 0 AND abs({a}) > "
            f"9223372036854775807 div abs({b}) THEN "
            f"CAST(raise_error('lineitem_price_index_laspeyres: "
            f"{a}*{b} overflows BIGINT — input violates the "
            f"lines-per-part bound this plan assumes') AS BIGINT) "
            f"ELSE {a} * {b} END"
        )

    return j.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common_parts"),
        F.expr(
            f"CAST((SUM(CAST({_checked_mul('millicents', 'q0')} AS DECIMAL(38,0))) * 1000000)"
            f" div SUM(CAST({_checked_mul('p0', 'q0')} AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("laspeyres_ppm"),
    )


@register(
    "lineitem_process_conformance",
    oracle="""
    WITH f AS (
        SELECT o.o_orderpriority AS priority,
               CASE
                   WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                       THEN '0-30d'
                   WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                       THEN '31-90d'
                   ELSE '90d+' END AS ship_lag_bucket,
               CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END
                   AS impossible
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    tot AS (SELECT COUNT(*) AS n FROM f)
    SELECT priority, ship_lag_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(impossible) AS BIGINT) AS n_impossible,
           CAST(COUNT(*) * 1000000 // (SELECT n FROM tot) AS BIGINT)
               AS share_ppm
    FROM f GROUP BY priority, ship_lag_bucket
    """,
)
def lineitem_process_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining conformance audit over the order-to-ship flow —
    every line classified by order priority x ship-lag bucket (days
    from order placement to line shipment), with an impossible-
    sequence counter (shipped before ordered - the data-quality red
    flag) and exact truncated-ppm shares. 'Do urgent orders actually
    ship faster' as one matrix.

    Plan shape at 100 TB: one orderkey-keyed join (both sides huge -
    shuffle hash/SMJ, AQE-skew-splittable; with both tables
    bucket[N]-landed on orderkey it plans storage-partitioned and
    shuffle-free), then row-local classification folded by a <=15-group
    hash agg with map-side partials; the denominator rides a broadcast
    1-row cross join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff("l_shipdate", "o_orderdate")
    f = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.when(lag <= 30, "0-30d")
        .when(lag <= 90, "31-90d")
        .otherwise("90d+")
        .alias("ship_lag_bucket"),
        F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1)
        .otherwise(0)
        .alias("impossible"),
    )
    tot = f.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    return (
        f.groupBy("priority", "ship_lag_bucket")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"),
            F.sum("impossible").cast("bigint").alias("n_impossible"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "priority",
            "ship_lag_bucket",
            F.col("cnt").cast("bigint").alias("n_lines"),
            "n_impossible",
            F.expr("CAST((cnt * 1000000) div n AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


@register(
    "scalar_try_funcs",
    oracle="""
    WITH s AS (
        SELECT o_orderkey,
               TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
                   AS prio_digit,
               TRY_CAST(CASE WHEN o_orderkey % 128 = 0
                             THEN o_orderstatus ELSE '7' END AS INT)
                   AS sparse_status,
               CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE 1 END
                   AS div_ok,
               CASE WHEN abs(CAST(round(o_totalprice * 100) AS BIGINT)
                             - 27000000) <= 27127564 THEN 1 END
                   AS mul_ok,
               CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                         <= 55000000 THEN 1 END AS add_ok
        FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(prio_digit) AS BIGINT) AS n_prio_parsed,
           CAST(SUM(prio_digit) AS BIGINT) AS sum_prio_digits,
           CAST(COUNT(*) - COUNT(sparse_status) AS BIGINT)
               AS n_status_parse_null,
           CAST(COUNT(div_ok) AS BIGINT) AS n_div_ok,
           CAST(COUNT(mul_ok) AS BIGINT) AS n_mul_ok,
           CAST(COUNT(add_ok) AS BIGINT) AS n_add_ok
    FROM s
    """,
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRY_* error-absorbing scalar family — try_cast (the
    priority\'s leading digit parses everywhere; a 1/128 slice of
    order-status letters does not), try_divide (every even orderkey
    divides by zero → NULL, never an exception), try_multiply and
    try_add (int64 overflow → NULL on the value tails). The
    ingestion-hardening idiom: a malformed value costs a NULL, not a
    failed 100-TB job. DuckDB has TRY_CAST but no TRY arithmetic, so
    the oracle spells the arithmetic guards as range-checked CASEs —
    the same NULL contract.

    Plan shape at 100 TB: all row-local codegen expressions feeding a
    single 1-row aggregate with map-side partials. CRITICALLY, the
    failure paths are RARE BY DESIGN: Spark absorbs each TRY_* failure
    via a caught per-row JVM exception, so a column that overflows on
    EVERY row costs ~5× the whole scan (measured 7.7 s vs 1.5 s peers
    at sf0.1 before this shape) — the realistic profile (rare bad
    rows) is also the fast path, and that anti-pattern note lives in
    PLANS.md."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    s = o.select(
        F.expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)").alias(
            "prio_digit"
        ),
        F.expr(
            "try_cast(CASE WHEN o_orderkey % 128 = 0 "
            "THEN o_orderstatus ELSE '7' END AS INT)"
        ).alias("sparse_status"),
        F.try_divide(F.lit(1), F.col("o_orderkey") % 2).alias("div_ok"),
        F.try_multiply(
            cents - F.lit(27000000), F.lit(340000000000)
        ).alias("mul_ok"),
        F.try_add(
            cents, F.lit(9223372036854775807 - 55000000)
        ).alias("add_ok"),
    )
    return s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("prio_digit").cast("bigint").alias("n_prio_parsed"),
        F.sum("prio_digit").cast("bigint").alias("sum_prio_digits"),
        (F.count(F.lit(1)) - F.count("sparse_status"))
        .cast("bigint")
        .alias("n_status_parse_null"),
        F.count("div_ok").cast("bigint").alias("n_div_ok"),
        F.count("mul_ok").cast("bigint").alias("n_mul_ok"),
        F.count("add_ok").cast("bigint").alias("n_add_ok"),
    )


@register(
    "agg_modern_funcs",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderdate, o_orderkey) AS latest_key_date,
           arg_min(o_orderdate, o_orderkey) AS first_key_date,
           CAST(count_if(o_totalprice > 300000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 500000) AS any_jumbo,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_modern_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern aggregate shelf — ``max_by``/``min_by`` (Spark) ≡
    ``arg_max``/``arg_min`` (DuckDB), ``count_if``, ``bool_and``,
    ``bool_or`` — per order priority. The argmax ORDERING key is the
    UNIQUE o_orderkey, so ties are impossible by construction and the
    result is deterministic on any engine at any scale (an argmax
    over a non-unique key is nondeterministic under ties — the
    scale-correct form is max_by(x, struct(key, tiebreak)), which
    DuckDB's arg_max cannot spell; this query pins the tie-free
    contract instead).

    Plan shape at 100 TB: ONE hash aggregate with map-side partials —
    every one of these aggregates carries O(1) state per group (a
    running (key, value) pair or a counter); k=5 groups forever."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderdate", "o_orderkey").alias("latest_key_date"),
        F.min_by("o_orderdate", "o_orderkey").alias("first_key_date"),
        F.count_if(F.col("o_totalprice") > 300000)
        .cast("bigint")
        .alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 500000).alias("any_jumbo"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )


@register(
    "orders_width_bucket_histogram",
    oracle="""
    WITH b AS (
        SELECT CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) < 0
                    THEN 0
                    WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                         >= 61234567 THEN 13
                    ELSE CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              * 12 // 61234567 AS BIGINT) + 1
               END AS bucket,
               CAST(round(o_totalprice * 100) AS HUGEINT) AS c
        FROM orders)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(c) AS BIGINT) AS bucket_cents
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def orders_width_bucket_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-width histogram of order value via SQL-standard
    ``width_bucket`` (12 buckets over [0, 612345.67), plus the two
    overflow buckets 0 and n+1). DuckDB lacks width_bucket, so the
    oracle spells the exact integer arithmetic — and the bucket WIDTH
    is deliberately coprime to the bucket count (61234567 vs 12,
    gcd 1, and 61234567·m/12 is never an integer below the ceiling),
    so no integer cents value can sit on a boundary and the double
    division inside Spark's width_bucket cannot disagree with integer
    floor division. Probed 0 mismatches over every order at sf0.01.

    Plan shape at 100 TB: one row-local codegen expression + a
    ≤14-group hash agg with map-side partials; HUGEINT/DECIMAL cents
    sums stay exact."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.select(
            F.width_bucket(cents, F.lit(0), F.lit(61234567), F.lit(12))
            .cast("bigint")
            .alias("bucket"),
            F.round(F.col("o_totalprice") * 100)
            .cast("decimal(38,0)")
            .alias("c"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("c").cast("bigint").alias("bucket_cents"),
        )
        .orderBy("bucket")
    )


_DEC38 = "decimal(38,0)"
_CORR_COLS = ["discount", "extendedprice", "quantity", "tax"]


def _corr_matrix_oracle() -> str:
    """Build the 6-pair UNION ALL oracle from one shared moment CTE —
    the same (nΣxy − ΣxΣy)/√((nΣxx − Σx²)(nΣyy − Σy²)) spelling the
    Spark side computes, so both engines share every double."""
    pair_sql = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            num = f"CAST(n * s_{a}{b} - s_{a} * s_{b} AS DOUBLE)"
            da = f"CAST(n * s_{a}{a} - s_{a} * s_{a} AS DOUBLE)"
            db = f"CAST(n * s_{b}{b} - s_{b} * s_{b} AS DOUBLE)"
            pair_sql.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y,"
                f" CAST(n AS BIGINT) AS n_rows,"
                f" CAST(round({num} / sqrt({da}) / sqrt({db})"
                f" * 1000000) AS BIGINT) AS corr_ppm FROM m"
            )
    sums = ", ".join(
        f"SUM(v_{a} * v_{b}) AS s_{a}{b}"
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i:]
    )
    firsts = ", ".join(f"SUM(v_{c}) AS s_{c}" for c in _CORR_COLS)
    return f"""
    WITH v AS (
        SELECT CAST(round(l_discount * 100) AS HUGEINT) AS v_discount,
               CAST(round(l_extendedprice * 100) AS HUGEINT)
                   AS v_extendedprice,
               CAST(round(l_quantity * 100) AS HUGEINT) AS v_quantity,
               CAST(round(l_tax * 100) AS HUGEINT) AS v_tax
        FROM lineitem),
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, {firsts}, {sums}
        FROM v)
    SELECT * FROM ({" UNION ALL ".join(pair_sql)})
    ORDER BY col_x, col_y
    """


@register("lineitem_corr_matrix", oracle=_corr_matrix_oracle())
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation MATRIX over the four lineitem measures
    (discount, extendedprice, quantity, tax) — all six pairs from ONE
    scan: the multivariate sibling of stats_exact_corr (one pair) and
    the numeric half of orders_column_profile. A feature-engineering
    pipeline runs exactly this screen before model training to drop
    collinear inputs.

    Plan shape at 100 TB: ONE hash aggregate computes all 15 exact
    integer moments (n, 4 sums, 10 cross/square sums) with map-side
    partials — 15 accumulators of DECIMAL(38,0) cents products (row
    product ≤ 10¹⁴, corpus sum ≪ 10³⁸ at any SF); the 6 output rows
    are a row-local explode of the 1-row frame. The correlation
    expression casts each exact moment to double ONCE and shares the
    (nΣxy − ΣxΣy)/√(..)√(..) spelling with the oracle — moments above
    2⁵³ round identically in both engines and the ppm grid absorbs
    the ulp. One scan, one shuffle (the 1-row agg), zero joins."""
    li = load_table(spark, sf_dir, "lineitem")
    # per-row products stay in BIGINT codegen (cents ≤ ~10⁷ → product
    # ≤ ~10¹⁴ ≪ 2⁶³ for these 2-decimal measures; measured 2.3×
    # faster at sf0.1 than decimal×decimal, whose 128-bit products run
    # on java.math.BigDecimal); only the AGGREGATION BUFFER is
    # DECIMAL(38,0), where corpus-scale sums live
    v = li.select(
        *[
            F.round(F.col(f"l_{c}") * 100).cast("bigint").alias(f"v_{c}")
            for c in _CORR_COLS
        ]
    )
    aggs = [F.count(F.lit(1)).cast(_DEC38).alias("n")]
    aggs += [F.sum(F.col(f"v_{c}").cast(_DEC38)).alias(f"s_{c}") for c in _CORR_COLS]
    aggs += [
        F.sum((F.col(f"v_{a}") * F.col(f"v_{b}")).cast(_DEC38)).alias(f"s_{a}{b}")
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i:]
    ]
    m = v.agg(*aggs)
    pairs = []
    n = F.col("n")
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            num = (n * F.col(f"s_{a}{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
            da = (n * F.col(f"s_{a}{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
            db = (n * F.col(f"s_{b}{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    n.cast("bigint").alias("n_rows"),
                    F.round(num / F.sqrt(da) / F.sqrt(db) * 1000000)
                    .cast("bigint")
                    .alias("corr_ppm"),
                )
            )
    return (
        m.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.col_x", "p.col_y", "p.n_rows", "p.corr_ppm")
        .orderBy("col_x", "col_y")
    )


@register(
    "customers_segment_nation_mi",
    oracle="""
    WITH joint AS (
        SELECT c_nationkey AS x, c_mktsegment AS y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment),
    mx AS (SELECT x, SUM(n) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, SUM(n) AS ny FROM joint GROUP BY y),
    f AS (SELECT (SELECT SUM(n) FROM joint) AS nn,
                 (SELECT SUM(n * ln(CAST(n AS DOUBLE))) FROM joint) AS sj,
                 (SELECT SUM(nx * ln(CAST(nx AS DOUBLE))) FROM mx) AS sx,
                 (SELECT SUM(ny * ln(CAST(ny AS DOUBLE))) FROM my) AS sy)
    SELECT CAST(nn AS BIGINT) AS n_customers,
           CAST(round((ln(CAST(nn AS DOUBLE))
                       - sx / CAST(nn AS DOUBLE)) * 1000000)
                AS BIGINT) AS h_nation_ppm,
           CAST(round((ln(CAST(nn AS DOUBLE))
                       - sy / CAST(nn AS DOUBLE)) * 1000000)
                AS BIGINT) AS h_segment_ppm,
           CAST(round((ln(CAST(nn AS DOUBLE))
                       - sj / CAST(nn AS DOUBLE)) * 1000000)
                AS BIGINT) AS h_joint_ppm,
           CAST(round(((sj - sx - sy) / CAST(nn AS DOUBLE)
                       + ln(CAST(nn AS DOUBLE))) * 1000000)
                AS BIGINT) AS mi_ppm
    FROM f
    """,
)
def customers_segment_nation_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between nation and market segment — the
    information-theoretic association readout (0 nats = independent;
    the categorical companion to the χ² screen that also QUANTIFIES
    the dependence): MI = H(X) + H(Y) − H(X,Y), each entropy in the
    ln N − Σn·ln n/N decomposition (the nation_segment_entropy idiom),
    so the only float work is three Σ n·ln n folds over the BOUNDED
    joint-count frame; ppm rounding absorbs ulp drift. Marginals
    derive from the joint frame — the fact table is touched once.

    Plan shape at 100 TB: ONE (nation, segment) hash agg with
    map-side partials collapses the fact table to ≤ |nations|×
    |segments| rows; marginals and the fold are aggregates over that
    bounded frame. One fact shuffle, no joins, no windows."""
    joint = materialize_once(
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("x"), F.col("c_mktsegment").alias("y")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    nln = lambda c: F.sum(F.col(c) * F.log(F.col(c).cast("double")))  # noqa: E731
    sj = joint.agg(
        F.sum("n").alias("nn"), nln("n").alias("sj")
    )
    sx = (
        joint.groupBy("x")
        .agg(F.sum("n").alias("nx"))
        .agg(nln("nx").alias("sx"))
    )
    sy = (
        joint.groupBy("y")
        .agg(F.sum("n").alias("ny"))
        .agg(nln("ny").alias("sy"))
    )
    f = sj.crossJoin(F.broadcast(sx)).crossJoin(F.broadcast(sy))
    nd = F.col("nn").cast("double")
    ppm = lambda e: F.round(e * 1000000).cast("bigint")  # noqa: E731
    return f.select(
        F.col("nn").cast("bigint").alias("n_customers"),
        ppm(F.log(nd) - F.col("sx") / nd).alias("h_nation_ppm"),
        ppm(F.log(nd) - F.col("sy") / nd).alias("h_segment_ppm"),
        ppm(F.log(nd) - F.col("sj") / nd).alias("h_joint_ppm"),
        ppm((F.col("sj") - F.col("sx") - F.col("sy")) / nd + F.log(nd)).alias(
            "mi_ppm"
        ),
    )


@register(
    "part_brand_type_residuals",
    oracle="""
    WITH o AS (
        SELECT p_brand, p_type, CAST(COUNT(*) AS BIGINT) AS obs
        FROM part GROUP BY 1, 2),
    r AS (SELECT p_brand, SUM(obs) AS rt FROM o GROUP BY 1),
    c AS (SELECT p_type, SUM(obs) AS ct FROM o GROUP BY 1),
    t AS (SELECT SUM(obs) AS n FROM o),
    cells AS (
        SELECT o.p_brand, o.p_type, o.obs,
               CAST(o.obs AS DOUBLE) AS od,
               CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
                   / CAST(t.n AS DOUBLE) AS e,
               (1.0 - CAST(r.rt AS DOUBLE) / CAST(t.n AS DOUBLE))
               * (1.0 - CAST(c.ct AS DOUBLE) / CAST(t.n AS DOUBLE)) AS adj
        FROM o JOIN r USING (p_brand) JOIN c USING (p_type)
               CROSS JOIN t),
    chi AS (SELECT SUM((od - e) * (od - e) / e) AS chi2 FROM cells),
    v AS (SELECT CAST(round(sqrt((SELECT chi2 FROM chi)
                    / (CAST((SELECT n FROM t) AS DOUBLE)
                       * (least((SELECT COUNT(*) FROM r),
                                (SELECT COUNT(*) FROM c)) - 1)))
                    * 1000000) AS BIGINT) AS cramers_v_ppm)
    SELECT p_brand, p_type, obs,
           CAST(round(e * 1000) AS BIGINT) AS expected_milli,
           CAST(round((od - e) / sqrt(e) * 1000) AS BIGINT)
               AS std_resid_milli,
           CAST(round((od - e) / sqrt(e * adj) * 1000) AS BIGINT)
               AS adj_resid_milli,
           (SELECT cramers_v_ppm FROM v) AS cramers_v_ppm
    FROM cells
    ORDER BY abs((od - e) / sqrt(e * adj)) DESC, p_brand, p_type
    LIMIT 10
    """,
)
def part_brand_type_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell-level companion to `part_brand_type_chi2`: a
    significant χ² says the table is dependent; the STANDARDIZED and
    ADJUSTED Pearson residuals say WHICH cells drive it (|adjusted|
    ≳ 2 flags a cell under the normal approximation) — plus Cramér's
    V = sqrt(χ²/(N·(min(r,c)−1))), the [0,1] effect size that makes
    χ² comparable across table shapes. Top-10 cells by |adjusted
    residual|; identical double expressions and milli/ppm rounding on
    both engines. Same OBSERVED-cell semantic as part_brand_type_chi2:
    zero-count cells never enter the table, the χ², or the ranking.

    Plan shape at 100 TB: identical to the χ² — one fact hash agg to
    the bounded cell table, broadcast marginals, a 1-row χ² fold
    broadcast back, and a 10-row TakeOrderedAndProject over the cell
    frame. Nothing rescans facts."""
    p = load_table(spark, sf_dir, "part").select("p_brand", "p_type")
    o = materialize_once(
        p.groupBy("p_brand", "p_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("obs")
        )
    )
    r = o.groupBy("p_brand").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("p_type").agg(F.sum("obs").alias("ct"))
    t = o.agg(F.sum("obs").alias("n"))
    nd = F.col("n").cast("double")
    cells = materialize_once(
        o.join(F.broadcast(r), "p_brand")
        .join(F.broadcast(c), "p_type")
        .crossJoin(F.broadcast(t))
        .select(
            "p_brand",
            "p_type",
            "obs",
            F.col("obs").cast("double").alias("od"),
            (F.col("rt").cast("double") * F.col("ct").cast("double") / nd)
            .alias("e"),
            (
                (F.lit(1.0) - F.col("rt").cast("double") / nd)
                * (F.lit(1.0) - F.col("ct").cast("double") / nd)
            ).alias("adj"),
            F.col("n"),
        )
    )
    # min(r,c) derived IN-PLAN from the cached cell frame (every
    # observed brand/type appears in some cell) — no eager .count()
    # driver actions; the whole query stays one lazy plan
    chi = cells.agg(
        F.sum(
            (F.col("od") - F.col("e")) * (F.col("od") - F.col("e")) / F.col("e")
        ).alias("chi2"),
        F.first("n").alias("n"),
        F.countDistinct("p_brand").alias("nb"),
        F.countDistinct("p_type").alias("nc"),
    ).select(
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * (F.least(F.col("nb"), F.col("nc")) - 1).cast("double")
                )
            )
            * 1000000
        )
        .cast("bigint")
        .alias("cramers_v_ppm")
    )
    resid = (F.col("od") - F.col("e")) / F.sqrt(F.col("e"))
    adj_resid = (F.col("od") - F.col("e")) / F.sqrt(F.col("e") * F.col("adj"))
    return (
        cells.crossJoin(F.broadcast(chi))
        .select(
            "p_brand",
            "p_type",
            "obs",
            F.round(F.col("e") * 1000).cast("bigint").alias("expected_milli"),
            F.round(resid * 1000).cast("bigint").alias("std_resid_milli"),
            F.round(adj_resid * 1000).cast("bigint").alias("adj_resid_milli"),
            "cramers_v_ppm",
            F.abs(adj_resid).alias("__ord"),
        )
        .orderBy(F.col("__ord").desc(), "p_brand", "p_type")
        .limit(10)
        .drop("__ord")
    )


_STUMP_WIDTH = 4100001  # cents per grid cell — coprime to the
# ~[1e5, 5e7] value range's round numbers, so no boundary collision


@register(
    "orders_value_stump_split",
    oracle=f"""
    WITH b AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                   // {_STUMP_WIDTH} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos
        FROM orders GROUP BY 1),
    tot AS (SELECT SUM(n) AS nn, SUM(pos) AS pp,
                   MAX(bucket) AS mx FROM b),
    cum AS (
        SELECT t.bucket AS t, SUM(b.n) AS nl, SUM(b.pos) AS pl
        FROM (SELECT DISTINCT bucket FROM b) t
        JOIN b ON b.bucket <= t.bucket
        GROUP BY t.bucket),
    s AS (
        SELECT t, nl, pl,
               (SELECT nn FROM tot) - nl AS nr,
               (SELECT pp FROM tot) - pl AS pr
        FROM cum WHERE t < (SELECT mx FROM tot))
    SELECT CAST((t + 1) * {_STUMP_WIDTH} AS BIGINT) AS threshold_cents,
           CAST(nl AS BIGINT) AS n_left,
           CAST(pl AS BIGINT) AS pos_left,
           CAST(round((CAST(nl AS DOUBLE)
                       * (2e0 * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                          * (1e0 - CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)))
                       + CAST(nr AS DOUBLE)
                       * (2e0 * (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
                          * (1e0 - CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))))
                      / CAST((SELECT nn FROM tot) AS DOUBLE) * 1000000)
                AS BIGINT) AS weighted_gini_ppm
    FROM s
    """,
)
def orders_value_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split scan — the quantity a tree learner
    evaluates at every node: for each candidate threshold on order
    value, the weighted binary Gini impurity of predicting
    status = 'F' from value < threshold (lower = better split; the
    argmin row is the stump a depth-1 tree would pick). Candidate
    thresholds are the boundaries of a fixed value grid (width
    {_STUMP_WIDTH} cents, coprime to round values so no edge
    collisions), so the scan is deterministic and engine-agnostic;
    class counts stay integers until one identical double Gini
    expression, ppm-rounded.

    Plan shape at 100 TB: ONE hash agg collapses the fact table to
    ≤ range/width bucket rows; the cumulative left-split counts come
    from a bounded triangular self-join of that bucket table (never a
    global window — the plan-gate rule); the Gini fold is per-row
    arithmetic on the bounded frame."""
    b = materialize_once(
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT) div {_STUMP_WIDTH}"
            ).alias("bucket"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    tot = b.agg(
        F.sum("n").alias("nn"),
        F.sum("pos").alias("pp"),
        F.max("bucket").alias("mx"),
    )
    t = b.select(F.col("bucket").alias("t")).distinct()
    cum = (
        t.join(b, b["bucket"] <= t["t"])
        .groupBy("t")
        .agg(F.sum("n").alias("nl"), F.sum("pos").alias("pl"))
    )
    s = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("t") < F.col("mx"))
        .select(
            "t",
            "nl",
            "pl",
            (F.col("nn") - F.col("nl")).alias("nr"),
            (F.col("pp") - F.col("pl")).alias("pr"),
            "nn",
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    gini = lambda p, n: F.lit(2.0) * (p / n) * (F.lit(1.0) - p / n)  # noqa: E731
    return s.select(
        ((F.col("t") + 1) * _STUMP_WIDTH).cast("bigint").alias(
            "threshold_cents"
        ),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("pl").cast("bigint").alias("pos_left"),
        F.round(
            (
                d("nl") * gini(d("pl"), d("nl"))
                + d("nr") * gini(d("pr"), d("nr"))
            )
            / d("nn")
            * 1000000
        )
        .cast("bigint")
        .alias("weighted_gini_ppm"),
    )
