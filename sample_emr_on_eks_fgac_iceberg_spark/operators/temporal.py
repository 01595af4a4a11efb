"""Temporal join operators — as-of join, range join, time-range window
frames — over the `events` and `orders` tables.

The reference exercises only an inner equi-join
(consumer_account_setup/consumer_emr_on_eks_setup.sh:412); these are the
time-series joins a lakehouse user additionally needs (SURVEY.md §2.B
"other join flavors": as-of/range via bucketed condition or window
trick). Spark has no ASOF JOIN operator, so:

- **As-of join** is implemented with the union+window trick: tag both
  sides, union, and carry the most recent left-side row forward with
  `last(..., ignorenulls=True)` over a per-key window. ONE shuffle on
  the join key, zero row multiplication — this is the 100 TB-safe plan
  (a naive `t1.ts >= t2.ts` join explodes quadratically per key; the
  union plan is linear and AQE-skew-splittable).
- **Range join** is an equi-join on the entity key with the time bound
  as a join-level range predicate; Catalyst executes the equi part as a
  hash/sort-merge join and evaluates the range residual inside the
  join, so the shuffle is keyed and bounded. At 100 TB the refinement
  is bucketing both sides by (key, coarse time bucket) — noted per
  query.
- **Range window frames** use `Window.rangeBetween` over an epoch-
  seconds order key (Spark's range frames need a numeric key), which
  both engines evaluate with peer-inclusive semantics.

DuckDB's native ASOF JOIN provides the oracle for the as-of case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_emr_on_eks_fgac_iceberg_spark.operators.registry import register
from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import (
    load_table,
    materialize_once,
)
from sample_emr_on_eks_fgac_iceberg_spark.operators.registry import (
    SESSION_GAP_SECONDS,
)


@register(
    "asof_join_click_purchase",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, MAX(event_id) AS click_event_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ),
    purchases AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           CAST(ROUND(p.value, 2) AS DOUBLE) AS purchase_value,
           c.click_event_id AS last_click_event_id,
           c.ts AS last_click_ts
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase event, the most recent click by
    the same user at-or-before the purchase timestamp.

    Union+window plan: clicks (tag 0) and purchases (tag 1) are
    unioned, sorted per user by (ts, tag) — tag 0 first on ties, giving
    the ASOF `>=` inclusive bound — and the latest click row is carried
    forward as a struct with `last(..., ignorenulls=True)`. One shuffle
    on user_id; no quadratic blowup regardless of events-per-user.
    Same-ts click ties resolve to max event_id (window order includes
    the click struct), matching the oracle's per-(user, ts) MAX dedup.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.struct(
            F.col("event_id").alias("click_event_id"),
            F.col("ts").alias("click_ts"),
        ).alias("click"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None)
        .cast("struct<click_event_id:long,click_ts:timestamp>")
        .alias("click"),
        "event_id",
        "value",
    )
    # Ordering (ts, side, click): clicks (side 0) sort before purchases
    # at equal ts → ASOF's inclusive `>=`; among same-ts clicks the
    # struct order makes max click_event_id the one carried forward —
    # tie-breaking inside the window instead of a pre-dedup aggregate
    # keeps the whole plan at exactly one shuffle.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "click")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click", F.last("click", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round("value", 2).cast("double").alias("purchase_value"),
            F.col("last_click.click_event_id").alias("last_click_event_id"),
            F.col("last_click.click_ts").alias("last_click_ts"),
        )
    )


@register(
    "range_join_purchase_followup",
    oracle="""
    SELECT p.event_id, p.user_id,
           COUNT(e.event_id) AS n_followups,
           CAST(SUM(CAST(ROUND(e.value, 2) AS DECIMAL(12,2))) AS DOUBLE)
             AS followup_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts > p.ts
     AND e.ts <= p.ts + INTERVAL 1 HOUR
    GROUP BY p.event_id, p.user_id
    """,
)
def range_join_purchase_followup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: count + value of all events by the same user in the
    hour following each purchase.

    Bucketed by (user_id, hour): each purchase is replicated to its
    own hour bucket and the next one — the only two buckets a
    follow-up within (ts, ts+1h] can land in — and the join key is
    (user, bucket) with the exact time window as a residual. The join
    fan-out drops from every same-user pair to same-user-adjacent-hour
    pairs (57× fewer matched rows on this data), and the shuffle key
    gains cardinality, which is precisely what keeps a time-range join
    alive at 100 TB where per-user histories are long.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hb", F.date_trunc("hour", "ts")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withColumn(
            "hb",
            F.explode(
                F.array(
                    F.date_trunc("hour", "p_ts"),
                    F.date_trunc("hour", "p_ts") + F.expr("INTERVAL 1 HOUR"),
                )
            ),
        )
    )
    joined = purchases.join(
        ev,
        (ev.user_id == purchases.p_user_id)
        & (ev.hb == purchases.hb)
        & (ev.ts > purchases.p_ts)
        & (ev.ts <= purchases.p_ts + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return (
        joined.groupBy(
            F.col("p_event_id").alias("event_id"),
            F.col("p_user_id").alias("user_id"),
        )
        .agg(
            F.count("event_id").alias("n_followups"),
            F.sum(F.round("value", 2).cast("decimal(12,2)"))
            .cast("double")
            .alias("followup_value"),
        )
    )


@register(
    "window_range_30d_spend",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d
    FROM orders
    """,
)
def window_range_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, rolling 30-day order spend.

    Spark range frames need a numeric order key, so the frame runs over
    epoch seconds with a 2,592,000-second bound; peers (same timestamp)
    are included by both engines, and the DECIMAL sum keeps the hash
    engine-independent. Single shuffle on o_custkey.
    """
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("spend_30d"),
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH fv AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view
        FROM events GROUP BY user_id),
    fc AS (
        SELECT e.user_id, MIN(e.ts) AS first_click
        FROM events e JOIN fv ON fv.user_id = e.user_id
        WHERE e.event_type = 'click' AND fv.first_view IS NOT NULL
              AND e.ts > fv.first_view
              AND e.ts <= fv.first_view + INTERVAL 24 HOURS
        GROUP BY e.user_id),
    fp AS (
        SELECT e.user_id, MIN(e.ts) AS first_purchase
        FROM events e JOIN fc ON fc.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > fc.first_click
              AND e.ts <= fc.first_click + INTERVAL 1 HOURS
        GROUP BY e.user_id),
    staged AS (
        SELECT fv.user_id,
               CASE WHEN fp.first_purchase IS NOT NULL THEN 'purchase'
                    WHEN fc.first_click IS NOT NULL THEN 'click'
                    WHEN fv.first_view IS NOT NULL THEN 'view'
                    ELSE 'none' END AS furthest_stage
        FROM fv LEFT JOIN fc ON fc.user_id = fv.user_id
                LEFT JOIN fp ON fp.user_id = fv.user_id)
    SELECT furthest_stage, COUNT(*) AS n_users
    FROM staged GROUP BY furthest_stage
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) with conversion
    deadlines: a user advances a stage only with an event strictly
    AFTER reaching the previous stage AND within the stage's window
    (click ≤ 24 h after first view, purchase ≤ 1 h after first click)
    — the product-analytics query sequence-window engines special-case.
    Output is users by furthest stage reached.

    Plan shape at 100 TB: three user-keyed aggregations over the same
    hash partitioning (first-view, then conditional first-click, then
    conditional first-purchase) and two left joins that reuse it —
    AQE plans every exchange on user_id once; per-stage state is one
    timestamp per user. No row multiplication: each pass is
    filter + min, never an event×event self-join."""
    e = load_table(spark, sf_dir, "events")
    fv = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        )
    )
    fc = (
        e.filter(F.col("event_type") == "click")
        .join(fv.filter(F.col("first_view").isNotNull()), "user_id")
        .filter(
            (F.col("ts") > F.col("first_view"))
            & (F.col("ts") <= F.col("first_view") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(
            (F.col("ts") > F.col("first_click"))
            & (F.col("ts") <= F.col("first_click") + F.expr("INTERVAL 1 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    staged = (
        fv.join(fc, "user_id", "left")
        .join(fp, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("first_purchase").isNotNull(), "purchase")
            .when(F.col("first_click").isNotNull(), "click")
            .when(F.col("first_view").isNotNull(), "view")
            .otherwise("none")
            .alias("furthest_stage"),
        )
    )
    return staged.groupBy("furthest_stage").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "events_time_weighted_value",
    oracle="""
    WITH seq AS (
        SELECT user_id, value, epoch_us(ts) AS t,
               LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts), event_id)
                   AS t_next
        FROM events)
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(CAST((t_next - t) AS BIGINT)) AS BIGINT) AS total_us,
           CAST(SUM(CAST(round(value * 100) AS HUGEINT) * (t_next - t))
                AS DOUBLE) / 100.0
               / SUM(CAST((t_next - t) AS DOUBLE)) AS time_weighted_avg
    FROM seq WHERE t_next IS NOT NULL
    GROUP BY user_id
    """,
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user — the metric for
    irregularly-sampled series (a reading 'holds' until the next one),
    standard in monitoring/IoT rollups where plain AVG over-weights
    bursts. Each interval weighs its value by its duration in
    microseconds (exact int64); the only float math is value×duration
    products and one final division.

    Plan shape at 100 TB: one window (lead) and one aggregation, both
    keyed on user_id — a single hash exchange reused by both. The
    microsecond epoch key keeps ordering integer-exact; event_id breaks
    timestamp ties so lead() is a total order in both engines.

    Determinism: value is an exact 2-decimal quantity, so the
    value×duration accumulation runs as exact integers — cents×µs in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), order-independent. The
    exact integer then takes ONE correctly-rounded cast to double and
    two divisions, identical in both engines. (A DECIMAL(38,2)
    accumulator was tried first: DuckDB's DECIMAL→DOUBLE cast is not
    correctly rounded — observed ...812.25 → ...812.23 — while its
    HUGEINT→DOUBLE cast is; Spark's BigDecimal path rounds correctly
    either way.)"""
    e = load_table(spark, sf_dir, "events")
    # parquet may deliver ts as TIMESTAMP_NTZ; cast through TIMESTAMP
    # (session tz is UTC) before epoch extraction — the NTZ→BIGINT
    # direct cast is rejected (verify-recipe invariant)
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(t.asc(), F.col("event_id").asc())
    seq = e.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dur = F.col("t_next") - F.col("t")
    cents = F.round(F.col("value") * 100).cast("decimal(20,0)")
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(dur).cast("bigint").alias("total_us"),
        (
            F.sum(cents * dur.cast("decimal(20,0)")).cast("double")
            / F.lit(100.0)
            / F.sum(dur.cast("double"))
        ).alias("time_weighted_avg"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS age_days
        FROM events e JOIN firsts f ON f.user_id = e.user_id)
    SELECT cohort_day, age_days, COUNT(*) AS n_active_users
    FROM activity GROUP BY cohort_day, age_days
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    on each later day they return — the canonical growth-analytics
    rollup. `n_active_users` at age 0 is the cohort size; the row set
    is the full retention triangle.

    Plan shape at 100 TB: first-seen is one user-keyed min-aggregation;
    the join back is user-keyed on the same partitioning; the DISTINCT
    collapses (user, day) before the final (cohort, age) count, so the
    last exchange carries at most users×active-days rows. Day
    arithmetic is integer date math — engine-exact."""
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = (
        e.select("user_id", day.alias("day"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("age_days"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "age_days").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "events_anomaly_hours",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, hr),
    stats AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(n_events) AS BIGINT) AS s1,
               CAST(SUM(n_events * n_events) AS BIGINT) AS s2
        FROM hourly GROUP BY user_id)
    SELECT h.user_id, h.hr, h.n_events,
           (s.n_hours >= 3 AND
            (s.n_hours * h.n_events - s.s1)
              * (s.n_hours * h.n_events - s.s1) * (s.n_hours - 1)
              > 4 * s.n_hours * (s.n_hours * s.s2 - s.s1 * s.s1))
             AS is_anomaly
    FROM hourly h JOIN stats s ON h.user_id = s.user_id
    """,
)
def events_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly activity anomalies — the burst/bot screen an
    event pipeline runs before sessionized data feeds training: an
    (user, hour) bucket is anomalous when its event count sits more
    than 2 sample standard deviations from that user's own hourly mean.
    The z-test is evaluated as a PURE INTEGER inequality —
    (n·c − Σ)²·(n−1) > 4·n·(n·Σx² − Σ²) is |z| > 2 with every division
    cleared — so the flag is bit-identical across engines and
    partitionings (no double accumulation anywhere). Users with fewer
    than 3 active hours never flag (sample variance undefined/trivial).

    Plan shape at 100 TB: two partial-agg passes over the same
    user-keyed partitioning (hour rollup, then per-user moments) and a
    co-keyed join back — AQE reuses the exchange; no window over raw
    events, no data-sized driver state."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    stats = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("n_events").cast("bigint").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("bigint").alias("s2"),
    )
    dev = F.col("n_hours") * F.col("n_events") - F.col("s1")
    var_num = F.col("n_hours") * F.col("s2") - F.col("s1") * F.col("s1")
    return hourly.join(stats, "user_id").select(
        "user_id",
        "hr",
        "n_events",
        (
            (F.col("n_hours") >= 3)
            & (dev * dev * (F.col("n_hours") - 1) > 4 * F.col("n_hours") * var_num)
        ).alias("is_anomaly"),
    )




@register(
    "sessions_overlap_concurrency",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, ts, LAG(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) > {SESSION_GAP_SECONDS}
                       THEN 1 ELSE 0 END AS new_session
        FROM seq),
    numbered AS (
        SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM flagged),
    s AS (SELECT user_id, session_seq, MIN(ts) AS st, MAX(ts) AS en
          FROM numbered GROUP BY user_id, session_seq)
    SELECT a.user_id, a.session_seq,
           a.st AS session_start, a.en AS session_end,
           CAST(COUNT(b.user_id) AS BIGINT) AS n_concurrent
    FROM s a LEFT JOIN s b
      ON NOT (a.user_id = b.user_id AND a.session_seq = b.session_seq)
     AND a.st <= b.en AND b.st <= a.en
    GROUP BY a.user_id, a.session_seq, a.st, a.en
    """,
)
def sessions_overlap_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap CONCURRENCY — for every user session, how many
    OTHER sessions (any user) were active at the same time. Concurrency
    is capacity planning's load signal and an abuse screen (many
    synchronized sessions = coordinated traffic).

    COMPLEMENT COUNTING (optimization r15 — replaces the r14 binned
    θ-join after a three-SF A/B): a session a overlaps b iff
    b.st <= a.en AND b.en >= a.st, so
    n_concurrent(a) = #{b.st <= a.en} − #{b.en < a.st} − 1 (self is in
    the first count). Both counts are exact distributed ranks computed
    through ONE stacked sweep (the spearman/copula dim-tag idiom): the
    two value/query multisets stack long-form under a dim tag through
    a single range exchange + per-partition running count + the K-row
    offsets fold. Cost is LINEAR in sessions — the binned join
    materialized Σ n_concurrent candidate pairs, which grows
    QUADRATICALLY wherever session density grows with the corpus
    (measured: ties at sf0.1, 2.1 s both; ×2.5 faster at a ×10 sf1,
    4.0 s vs 10.0 s, identical rows at all three SFs — plus the binned
    prototype r14 kept is now the documented fallback only for
    sparse-density corpora). The oracle keeps the direct θ-join
    spelling — same result, quadratic path — which is the point: this
    plan IS the scale rewrite.

    Tie semantics, full precision: comparisons run on exact micros;
    within a sweep, value rows order before (<=) or after (<) the
    query rows at equal timestamps via the typ key, so boundary-equal
    sessions count exactly as the predicate demands."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
        global_prefix,
    )

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    gap_s = epoch("ts") - F.lag(epoch("ts")).over(w)
    new_session = F.when(
        F.lag("ts").over(w).isNull() | (gap_s > SESSION_GAP_SECONDS), 1
    ).otherwise(0)
    sessions = materialize_once(
        e.withColumn("new_session", new_session)
        .withColumn("session_seq", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
        .withColumn("st_us", F.unix_micros(F.col("st").cast("timestamp")))
        .withColumn("en_us", F.unix_micros(F.col("en").cast("timestamp")))
    )
    # sweep A counts starts <= query end (values typ 0 sort BEFORE the
    # typ-1 queries at equal t => boundary equality included); sweep B
    # counts ends < query start (values typ 1 sort AFTER the typ-0
    # queries at equal t => boundary equality excluded)
    va = sessions.select(
        F.lit("A").alias("dim"), F.col("st_us").alias("t"),
        F.lit(0).alias("typ"),
        F.lit(None).cast("bigint").alias("qu"),
        F.lit(None).cast("bigint").alias("qs"),
        F.lit(1).alias("isv"),
    )
    qa = sessions.select(
        F.lit("A").alias("dim"), F.col("en_us").alias("t"),
        F.lit(1).alias("typ"),
        F.col("user_id").cast("bigint").alias("qu"),
        F.col("session_seq").cast("bigint").alias("qs"),
        F.lit(0).alias("isv"),
    )
    vb = sessions.select(
        F.lit("B").alias("dim"), F.col("en_us").alias("t"),
        F.lit(1).alias("typ"),
        F.lit(None).cast("bigint").alias("qu"),
        F.lit(None).cast("bigint").alias("qs"),
        F.lit(1).alias("isv"),
    )
    qb = sessions.select(
        F.lit("B").alias("dim"), F.col("st_us").alias("t"),
        F.lit(0).alias("typ"),
        F.col("user_id").cast("bigint").alias("qu"),
        F.col("session_seq").cast("bigint").alias("qs"),
        F.lit(0).alias("isv"),
    )
    stacked = va.unionByName(qa).unionByName(vb).unionByName(qb)
    qrows = global_prefix(
        stacked, ["t", "typ"], {"cnt": F.col("isv")}, by=["dim"]
    ).filter(F.col("qu").isNotNull())
    counts = qrows.groupBy("qu", "qs").agg(
        F.sum(F.when(F.col("dim") == "A", F.col("cnt"))).alias("c_le"),
        F.sum(F.when(F.col("dim") == "B", F.col("cnt"))).alias("c_lt"),
    )
    return (
        sessions.join(
            counts,
            (sessions.user_id == counts.qu)
            & (sessions.session_seq == counts.qs),
        )
        .select(
            "user_id",
            "session_seq",
            F.col("st").alias("session_start"),
            F.col("en").alias("session_end"),
            (F.col("c_le") - F.col("c_lt") - 1)
            .cast("bigint")
            .alias("n_concurrent"),
        )
    )


@register(
    "events_locf_fill",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_purchase_value
    FROM events
    """,
)
def events_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward — the gap-fill every
    irregularly-sampled feature pipeline needs (sensor readings,
    prices, session attributes): each event carries the value of the
    user's most recent 'purchase', NULL until the first one. IGNORE
    NULLS windows are the one window-frame feature the relational pack
    didn't exercise; the carried value is copied, never recomputed, so
    the doubles compare bit-exactly across engines.

    Plan shape: one user-keyed window over a running frame — a single
    exchange shared with every other per-user pass; no join, no
    self-scan."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_purchase_value"),
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    trans AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type),
    tot AS (SELECT prev_type, SUM(n) AS row_total FROM trans GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.n,
           CAST(tot.row_total AS BIGINT) AS row_total,
           CAST(t.n AS DOUBLE) / tot.row_total AS p
    FROM trans t JOIN tot ON tot.prev_type = t.prev_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral model a pipeline fits to detect
    scripted traffic (improbable transition chains) and to validate
    synthetic event data against production. Transition probabilities
    are exact integer counts with one deterministic double division.

    Plan shape at 100 TB: one user-keyed window (shared exchange with
    every other per-user pass) feeding a types×types-bounded hash agg —
    the matrix is |event_type|² cells no matter the corpus; the
    row-total join is over that same bounded matrix."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    # barrier the matrix: without it the row-total join's two sides
    # each recompute the events scan + window (caught by the plan test)
    trans = materialize_once(
        seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    tot = trans.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return trans.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        "row_total",
        (F.col("n").cast("double") / F.col("row_total")).alias("p"),
    )


@register(
    "orders_interarrival_stats",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               date_diff('day',
                         LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders),
    gaps AS (SELECT o_custkey, gap_days FROM seq WHERE gap_days IS NOT NULL)
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_days) AS BIGINT) AS total_gap_days,
           CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
    FROM gaps GROUP BY o_custkey
    """,
)
def orders_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival (re-order gap) statistics per customer — the
    churn-risk / purchase-cadence signal: integer day gaps between a
    customer's consecutive orders via one lag window, reduced to
    count/sum/min/max (mean = sum/count left to the consumer for
    exactness). One customer-keyed exchange shared by the window and
    the rollup; all values exact integer date math."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap_days").cast("bigint").alias("total_gap_days"),
        F.min("gap_days").cast("bigint").alias("min_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
    )


_BURST_GAP_S = 60  # events closer than this chain into one burst run


@register(
    "events_burst_runs",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id,
               LAG(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) >= {_BURST_GAP_S}
                       THEN 1 ELSE 0 END AS new_run
        FROM seq),
    runs AS (
        SELECT user_id,
               CAST(SUM(new_run) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS run_id
        FROM flagged),
    run_sizes AS (
        SELECT user_id, run_id, CAST(COUNT(*) AS BIGINT) AS run_len
        FROM runs GROUP BY user_id, run_id)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           MAX(run_len) AS longest_run,
           CAST(SUM(CASE WHEN run_len >= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bursts
    FROM run_sizes GROUP BY user_id
    """,
)
def events_burst_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length burst detection — the rapid-fire fingerprint a bot
    screen uses: consecutive events closer than {_BURST_GAP_S}s chain
    into a run (gap-based run-length encoding, the same lag+cumsum
    recipe as sessionization at a tighter threshold); per user the
    report gives run count, longest run, and how many runs reach
    burst length (≥5). All integer date math.

    Plan shape: two windows and two rollups, all on the same
    user-keyed exchange — one shuffle end to end."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    gap = epoch("ts") - F.lag(epoch("ts")).over(w)
    new_run = F.when(
        F.lag("ts").over(w).isNull() | (gap >= _BURST_GAP_S), 1
    ).otherwise(0)
    run_sizes = (
        e.withColumn("new_run", new_run)
        .withColumn("run_id", F.sum("new_run").over(wrun).cast("bigint"))
        .groupBy("user_id", "run_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
    )
    return run_sizes.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("run_len").alias("longest_run"),
        F.sum(F.when(F.col("run_len") >= 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bursts"),
    )


@register(
    "user_feature_snapshot",
    oracle="""
    WITH cutoff AS (SELECT MAX(ts) AS c FROM events),
    feat AS (
        SELECT e.user_id,
               COUNT(*) FILTER (WHERE e.ts > c.c - INTERVAL 7 DAY)
                   AS n_7d,
               COUNT(*) AS n_30d,
               CAST(SUM(CAST(round(e.value * 1000000) AS BIGINT))
                        FILTER (WHERE e.ts > c.c - INTERVAL 7 DAY)
                    AS BIGINT) AS value_sum_7d_fixed,
               CAST(SUM(CAST(round(e.value * 1000000) AS BIGINT))
                    AS BIGINT) AS value_sum_30d_fixed,
               CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types_30d,
               MAX(e.ts) AS last_ts
        FROM events e CROSS JOIN cutoff c
        WHERE e.ts > c.c - INTERVAL 30 DAY
        GROUP BY e.user_id)
    SELECT * FROM feat
    """,
)
def user_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store snapshot — the trailing-window per-user feature
    vector an ML serving/training pipeline materializes as-of a cutoff
    (here MAX(ts), so the query is deterministic with no wall-clock
    dependency): 7-day and 30-day event counts, fixed-point value sums
    (micro-units, so the accumulation is exact integer arithmetic in
    both engines), distinct event types, and the last-seen timestamp.

    Plan shape at 100 TB: the cutoff is a 1-row scalar aggregate
    broadcast to every task (a broadcast nested-loop join of one row —
    never a shuffle of events); the 30-day filter then prunes the scan
    before ONE user-keyed hash aggregation computes every feature in a
    single pass via conditional aggregation (the FILTER-clause idiom —
    no per-window self-joins). countDistinct plans as the standard
    two-phase expand+agg, still keyed on user_id. On a date-partitioned
    event lake the trailing-window filter is partition pruning."""
    e = load_table(spark, sf_dir, "events")
    cut = e.agg(F.max("ts").alias("c"))
    fixed = F.round(F.col("value") * 1000000).cast("long")
    in7 = F.col("ts") > F.col("c") - F.expr("INTERVAL 7 DAYS")
    return (
        e.join(F.broadcast(cut))
        .filter(F.col("ts") > F.col("c") - F.expr("INTERVAL 30 DAYS"))
        .groupBy("user_id")
        .agg(
            F.count(F.when(in7, 1)).alias("n_7d"),
            F.count(F.lit(1)).alias("n_30d"),
            F.sum(F.when(in7, fixed)).cast("bigint").alias("value_sum_7d_fixed"),
            F.sum(fixed).cast("bigint").alias("value_sum_30d_fixed"),
            F.countDistinct("event_type").alias("n_types_30d"),
            F.max("ts").alias("last_ts"),
        )
    )


_ATTR_WINDOW_DAYS = 7


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS lt_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN ts END IGNORE NULLS)
                   OVER w AS lt_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    conv AS (
        SELECT CASE WHEN lt_ts IS NOT NULL
                         AND ts <= lt_ts + INTERVAL {_ATTR_WINDOW_DAYS} DAY
                    THEN lt_type ELSE 'none' END AS channel,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM seq WHERE event_type = 'purchase')
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM conv GROUP BY channel
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the most
    recent click/view by the same user within a {_ATTR_WINDOW_DAYS}-day
    lookback (ties broken by the global (ts, event_id) event order);
    purchases with no in-window touch report as 'none'. Revenue is
    exact integer cents.

    One window pass — the as-of join expressed as last(ignorenulls)
    over the per-user event sequence, NOT a self-join: at 100 TB the
    per-user history shuffles once on user_id and every row is touched
    once, where the naive purchases×touches join fans out per pair.
    The final rollup is a 5-row hash agg with map-side partials."""
    ev = load_table(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("lt_ts"),
    )
    conv = seq.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("lt_ts").isNotNull()
            & (
                F.col("ts")
                <= F.col("lt_ts") + F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAY")
            ),
            F.col("lt_type"),
        )
        .otherwise(F.lit("none"))
        .alias("channel"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return conv.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


_PATH_TOP = 20


@register(
    "events_prepurchase_paths",
    oracle=f"""
    WITH seq AS (
        SELECT event_type, value,
               LAG(event_type, 1) OVER w AS l1,
               LAG(event_type, 2) OVER w AS l2,
               LAG(event_type, 3) OVER w AS l3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    paths AS (
        SELECT l3 || '>' || l2 || '>' || l1 AS path,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM seq
        WHERE event_type = 'purchase' AND l3 IS NOT NULL),
    agg AS (
        SELECT path, COUNT(*) AS n_purchases,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM paths GROUP BY path)
    SELECT path, CAST(n_purchases AS BIGINT) AS n_purchases, revenue_cents
    FROM agg
    ORDER BY n_purchases DESC, path
    LIMIT {_PATH_TOP}
    """,
)
def events_prepurchase_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-to-conversion mining: the exact 3-step event sequence
    preceding each purchase (per-user event order), rolled up to the
    top {_PATH_TOP} converting paths with exact integer-cents revenue —
    'which journeys end in a sale', the product-analytics staple.

    One user-keyed window pass builds the lags (no self-join, every
    row touched once), the rollup is vocabulary-bounded (|event
    types|³ paths max), and the top-K is a TakeOrderedAndProject —
    bounded driver result regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.lag("event_type", 1).over(w).alias("l1"),
        F.lag("event_type", 2).over(w).alias("l2"),
        F.lag("event_type", 3).over(w).alias("l3"),
    )
    paths = seq.filter(
        (F.col("event_type") == "purchase") & F.col("l3").isNotNull()
    ).select(
        F.concat_ws(">", "l3", "l2", "l1").alias("path"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy(F.col("n_purchases").desc(), "path")
        .limit(_PATH_TOP)
    )


# CUSUM drift detection: slack k and alarm threshold h in COUNTS per
# hour (integer units, cleared of the mean division below)
_CUSUM_SLACK = 1
_CUSUM_H = 12


@register(
    "events_cusum_changepoint",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               COUNT(*) AS c
        FROM events GROUP BY event_type, hr),
    tot AS (
        SELECT event_type, COUNT(*) AS n, SUM(c) AS total
        FROM hourly GROUP BY event_type),
    dev AS (
        SELECT h.event_type, h.hr,
               -- n·(x − mean − k) with the mean division cleared:
               -- d = n·x − total − n·k  (exact integers)
               t.n * h.c - t.total - t.n * {_CUSUM_SLACK} AS d,
               t.n AS n
        FROM hourly h JOIN tot t USING (event_type)),
    pfx AS (
        SELECT event_type, hr, n,
               SUM(d) OVER (PARTITION BY event_type ORDER BY hr
                            ROWS UNBOUNDED PRECEDING) AS p
        FROM dev),
    cusum AS (
        SELECT event_type, hr, n, p,
               MIN(p) OVER (PARTITION BY event_type ORDER BY hr
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS minpre
        FROM pfx),
    -- S_t = max(0, P_t - min(P_0..P_(t-1))) with P_0 = 0: the LEAST
    -- against 0 is the P_0 term (all-positive prefixes must NOT be
    -- reduced by their own minimum)
    s AS (SELECT event_type, hr, n,
                 GREATEST(p - LEAST(COALESCE(minpre, 0), 0), 0) AS s
          FROM cusum)
    SELECT event_type,
           MIN(hr) FILTER (WHERE s >= n * {_CUSUM_H}) AS first_alarm_hr,
           CAST(MAX(s) AS BIGINT) AS peak_s_scaled,
           CAST(COUNT(*) FILTER (WHERE s >= n * {_CUSUM_H}) AS BIGINT)
               AS n_alarm_hours
    FROM s GROUP BY event_type
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection over each event type's
    hourly volume — the drift monitor a feed pipeline runs to catch a
    rate shift (bot burst, schema break upstream) the per-bucket z-test
    misses because CUSUM accumulates small sustained deviations.

    The textbook recursion S_t = max(0, S_(t-1) + x_t − μ − k) is NOT a
    plain window sum, but it equals max(0, P_t − min(0, P_(<t))) for
    the prefix sums P of the deviations — so it runs as TWO stacked windows
    (running sum, then running min), no recursion, no UDF. Every term
    is cleared of the mean division (d = n·x − total − n·k, exact
    integers), so alarms compare integers and the peak statistic is
    bit-equal cross-engine.

    Plan shape at 100 TB: the windows run over the HOURLY ROLLUP
    (vocabulary × time rows, partitioned by event_type), never raw
    events; the rollup itself is one hash agg with map-side partials.
    Monitoring thousands of types = thousands of independent window
    partitions."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("total"),
    )
    dev = hourly.join(tot, "event_type").select(
        "event_type",
        "hr",
        "n",
        (
            F.col("n") * F.col("c") - F.col("total")
            - F.col("n") * F.lit(_CUSUM_SLACK)
        ).alias("d"),
    )
    wsum = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wmin = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pfx = dev.withColumn("p", F.sum("d").over(wsum))
    # S_t = max(0, P_t − min(P_0..P_(t-1))), P_0 = 0 — the least()
    # against 0 carries the P_0 term so all-positive prefixes are not
    # reduced by their own minimum
    cusum = pfx.withColumn("minpre", F.min("p").over(wmin))
    s = cusum.withColumn(
        "s",
        F.greatest(
            F.col("p")
            - F.least(F.coalesce(F.col("minpre"), F.lit(0)), F.lit(0)),
            F.lit(0),
        ),
    )
    alarm = F.col("s") >= F.col("n") * F.lit(_CUSUM_H)
    return s.groupBy("event_type").agg(
        F.min(F.when(alarm, F.col("hr"))).alias("first_alarm_hr"),
        F.max("s").cast("bigint").alias("peak_s_scaled"),
        F.sum(alarm.cast("int")).cast("bigint").alias("n_alarm_hours"),
    )


_LATENCY_QUANTILES = ((1, 2), (9, 10), (99, 100))  # p50, p90, p99


@register(
    "events_conversion_latency_quantiles",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase
        FROM events GROUP BY user_id),
    lat AS (
        SELECT user_id,
               (epoch_us(first_purchase) - epoch_us(first_click))
                   // 1000000 AS lat_s
        FROM firsts
        WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase >= first_click),
    nn AS (SELECT COUNT(*) AS n, SUM(lat_s) AS total FROM lat),
    ranked AS (SELECT lat_s,
                      ROW_NUMBER() OVER (ORDER BY lat_s, user_id) AS rk
               FROM lat)
    SELECT CAST(nn.n AS BIGINT) AS n_users,
           CAST(nn.total AS DOUBLE) / nn.n AS mean_s,
           CAST(MAX(CASE WHEN rk = GREATEST((1 * nn.n + 1) // 2, 1)
                         THEN lat_s END) AS BIGINT) AS p50_s,
           CAST(MAX(CASE WHEN rk = GREATEST((9 * nn.n + 9) // 10, 1)
                         THEN lat_s END) AS BIGINT) AS p90_s,
           CAST(MAX(CASE WHEN rk = GREATEST((99 * nn.n + 99) // 100, 1)
                         THEN lat_s END) AS BIGINT) AS p99_s
    FROM ranked CROSS JOIN nn GROUP BY nn.n, nn.total
    """,
)
def events_conversion_latency_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT p50/p90/p99 of first-click→first-purchase latency — the
    conversion-speed SLO readout, with discrete quantiles at position
    ceil(p·n) taken as true order statistics (approx_percentile's
    engine-private sketch can't be oracle-checked; sorting the corpus
    to one partition can't scale).

    Plan shape at 100 TB: per-user firsts are ONE conditional hash agg;
    the latency frame (one row per converting user) range-partitions
    once, each partition computes local row numbers, and the n_parts
    per-partition counts — K scalars, never rows — locate the three
    target positions driver-side (skew.exact_order_statistics, the
    ntile_cutpoints machinery); ONE filter fetches the three rows. The
    mean rides a separate exact integer agg. The ceil position rule is
    pure integer arithmetic, mirrored verbatim in the oracle."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
        exact_order_statistics,
    )

    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    lat = (
        firsts.filter(
            F.col("first_click").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") >= F.col("first_click"))
        )
        .select(
            "user_id",
            # NTZ parquet reads: route through TIMESTAMP (round-3
            # driver-gate rule — never cast NTZ straight to a number)
            F.expr(
                "(unix_micros(cast(first_purchase AS timestamp)) "
                "- unix_micros(cast(first_click AS timestamp))) div 1000000"
            ).alias("lat_s"),
        )
    )
    lat = materialize_once(lat)
    stats = exact_order_statistics(
        lat, ["lat_s", "user_id"], _LATENCY_QUANTILES
    )
    by_q = {q: row["lat_s"] for q, _, row in stats}
    if not by_q:
        # zero converting users: the oracle's GROUP BY over the empty
        # ranked CTE emits ZERO rows, while a global agg here would emit
        # one (n_users=0, null quantiles) — return the empty frame with
        # the output schema to keep cross-engine parity (ADVICE r10)
        return spark.createDataFrame(
            [],
            "n_users bigint, mean_s double, p50_s bigint, "
            "p90_s bigint, p99_s bigint",
        )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (F.sum("lat_s").cast("double") / F.count(F.lit(1))).alias("mean_s"),
    ).select(
        "n_users",
        "mean_s",
        F.lit(by_q[(1, 2)]).cast("bigint").alias("p50_s"),
        F.lit(by_q[(9, 10)]).cast("bigint").alias("p90_s"),
        F.lit(by_q[(99, 100)]).cast("bigint").alias("p99_s"),
    )


def asof_join_frames(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    op: str = ">=",
    how: str = "inner",
) -> DataFrame:
    """Generic as-of join of two frames — the reusable form of the
    union+window plan ``asof_join_click_purchase`` inlines (module
    docstring: ONE shuffle on the key, zero row multiplication), built
    for the SQL frontend's ``ASOF JOIN`` rewrite but callable directly.

    ``on`` is the equi-key pairing [(left_col, right_col), …];
    ``op`` is the as-of inequality ``left_ts OP right_ts`` with OP in
    {>=, >, <=, <}: ``>=``/``>`` match the latest right row at-or-
    before/strictly-before the left timestamp (backward as-of, the
    default in DuckDB/pandas), ``<=``/``<`` the earliest at-or-after/
    strictly-after (forward). ``how`` is ``inner`` or ``left``.

    Determinism: among right rows tying on (key, ts) the carried row
    is the struct-order maximum (the window order includes the right
    struct, same tie rule as asof_join_click_purchase). Column names
    must be disjoint across the two inputs — the SQL rewrite exposes
    the joined relation as one flat view, so a collision would be
    ambiguous; callers pre-rename instead.

    NULL semantics: the ON predicate is a comparison, and a comparison
    with NULL is never true — a right row with a NULL key or NULL
    timestamp matches nothing, and a left probe with a NULL key or
    NULL timestamp matches nothing (kept unmatched for how='left',
    dropped for 'inner'). Without the explicit handling,
    Window.partitionBy would group NULL keys TOGETHER (SQL grouping,
    not SQL comparison), silently inventing NULL↔NULL matches
    (ADVICE r12). DuckDB 1.0's own ASOF NULL-timestamp behavior was
    probed and found ORDER-DEPENDENT (the same single-probe query
    returns a match or nothing depending on sibling rows — an artifact
    of its partitioned-sort implementation), so this engine pins the
    principled never-match rule; its deterministic subset (a lone
    NULL-ts probe matches nothing; NULL keys never match) agrees.

    Plan shape at 100 TB: union → one hash partition on the key →
    per-key window. Linear in rows, AQE-skew-splittable; never the
    quadratic per-key explosion of the naive range-join spelling."""
    if op not in (">=", ">", "<=", "<"):
        raise ValueError(f"asof op must be >=, >, <= or < (got {op!r})")
    if how not in ("inner", "left"):
        raise ValueError(f"asof how must be inner or left (got {how!r})")
    overlap = sorted(set(left.columns) & set(right.columns))
    if overlap:
        raise ValueError(
            f"asof join sides share column names {overlap}; rename one side"
        )
    keys = [f"__k{i}" for i in range(len(on))]
    from pyspark.sql.types import StructType

    r_struct = StructType(right.schema.fields)
    lu = left.select(
        *[F.col(l).alias(k) for (l, _), k in zip(on, keys)],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_l"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(r_struct).alias("__r"),
    )
    ru = right.select(
        *[F.col(r).alias(k) for (_, r), k in zip(on, keys)],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_l"),
        F.lit(None).cast(StructType(left.schema.fields)).alias("__l"),
        F.struct(*[F.col(c) for c in right.columns]).alias("__r"),
    )
    # NULL-key / NULL-ts right rows can never be the match of any
    # probe (NULL comparisons are false) — drop them before the union
    # so last(ignorenulls) cannot carry one.
    r_valid = F.col("__ts").isNotNull()
    for k in keys:
        r_valid = r_valid & F.col(k).isNotNull()
    ru = ru.filter(r_valid)
    # At equal __ts the right row sorts BEFORE the left probe exactly
    # when the bound is inclusive (>= / <=): the probe's window then
    # contains it. Strict bounds sort the probe first, excluding ties.
    backward = op in (">=", ">")
    inclusive = op in (">=", "<=")
    ts_o = F.col("__ts").asc() if backward else F.col("__ts").desc()
    side_o = F.col("__is_l").asc() if inclusive else F.col("__is_l").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_o, side_o, F.col("__r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    res = (
        lu.unionByName(ru)
        .withColumn("__m", F.last("__r", ignorenulls=True).over(w))
        .filter(F.col("__is_l") == 1)
    )
    # A NULL-key or NULL-ts probe never matches. NULL keys are safe by
    # construction (the partition holds no right rows after the filter
    # above), but a NULL-ts probe under the DESC forward order sorts
    # LAST and its cumulative window would see every right row — null
    # the match out explicitly.
    l_valid = F.col("__ts").isNotNull()
    for k in keys:
        l_valid = l_valid & F.col(k).isNotNull()
    res = res.withColumn("__m", F.when(l_valid, F.col("__m")))
    if how == "inner":
        res = res.filter(F.col("__m").isNotNull())
    return res.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__m.{c}").alias(c) for c in right.columns],
    )


@register(
    "events_rolling_7d_users",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day FROM d),
    contrib AS (
        SELECT d.user_id, dd.day
        FROM d JOIN days dd
          ON dd.day >= d.day AND dd.day <= d.day + 6),
    w AS (
        SELECT day, COUNT(DISTINCT user_id) AS dau_7d
        FROM contrib GROUP BY day),
    o AS (SELECT day, COUNT(*) AS dau_1d FROM d GROUP BY day)
    SELECT w.day AS day, CAST(o.dau_1d AS BIGINT) AS dau_1d,
           CAST(w.dau_7d AS BIGINT) AS dau_7d
    FROM w JOIN o ON w.day = o.day
    """,
)
def events_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per observed day (the
    product-analytics DAU/WAU staple) — EXACT, not a sketch: sliding
    distinct counts don't decompose into window partials, so each
    (user, day) activity row is fanned out to the ≤7 observed window
    ends it can serve, and the count-distinct runs per end day.

    Plan shape at 100 TB: the fact table collapses to DISTINCT
    (user, day) first — the only row-count-sized agg; the fan-out is a
    bounded ×7 explode (no range join), window ends prune against the
    broadcast calendar (|days| is calendar-bounded forever), and the
    per-day distinct is Spark's two-phase partial agg on (day, user) —
    a hot day never funnels through one reducer."""
    d = materialize_once(
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    days = d.select("day").distinct()
    contrib = d.select(
        "user_id",
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("day"),
    )
    w = (
        contrib.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("dau_7d"))
    )
    o = d.groupBy("day").agg(F.count(F.lit(1)).alias("dau_1d"))
    return w.join(o, "day").select(
        "day",
        F.col("dau_1d").cast("bigint").alias("dau_1d"),
        F.col("dau_7d").cast("bigint").alias("dau_7d"),
    )


@register(
    "events_click_purchase_xcorr",
    oracle="""
    WITH c AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1),
    p AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
    pairs AS (
        SELECT g.lag AS lag, c.x, p.y
        FROM c CROSS JOIN generate_series(0, 7) AS g(lag)
        JOIN p ON p.day = c.day + CAST(g.lag AS INT)),
    m AS (
        SELECT lag, COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM pairs GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag_days, CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r_xcorr
    FROM m WHERE n >= 3
    """,
)
def events_click_purchase_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily click and purchase
    series — 'how many days after a click wave does the purchase wave
    follow', the lead-indicator scan a growth dashboard runs. For each
    lag 0..7, Pearson r between clicks(day) and purchases(day+lag)
    over the days where both exist, as exact DECIMAL(38,0)/HUGEINT
    moments folded into ONE fixed double expression (the Spearman/
    autocorr float rule — +,−,×,/ and sqrt are correctly rounded).

    Plan shape at 100 TB: the fact table collapses to two daily hash
    aggs (calendar-bounded frames); the lag fan-out is a bounded ×8
    explode of the CLICK daily frame joined by date to the purchase
    daily frame — never a range join, nothing scales past the first
    aggs; moments are a ≤8-group rollup."""
    e = load_table(spark, sf_dir, "events")
    _dec = "decimal(38,0)"
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast(_dec).alias("x"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast(_dec).alias("y"))
    )
    fan = c.select(
        "day", "x", F.explode(F.expr("sequence(0, 7)")).alias("lag")
    ).withColumn("mday", F.expr("date_add(day, lag)"))
    pairs = fan.join(
        p.select(F.col("day").alias("mday"), "y"), "mday"
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast(_dec).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return m.filter(F.col("n") >= 3).select(
        F.col("lag").cast("bigint").alias("lag_days"),
        F.col("n").cast("bigint").alias("n_days"),
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
        ).alias("r_xcorr"),
    )


@register(
    "events_dyadic_smoothed_revenue",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(CAST(round(value * 100) AS HUGEINT)) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
    days AS (SELECT day FROM d),
    contrib AS (
        SELECT dd.day AS day,
               CAST(d.cents * (1 << (9 - (dd.day - d.day))) AS HUGEINT)
                   AS wx,
               CAST(1 << (9 - (dd.day - d.day)) AS HUGEINT) AS w
        FROM d JOIN days dd
          ON dd.day >= d.day AND dd.day <= d.day + 9)
    SELECT day, CAST(SUM(wx) AS BIGINT) AS wsum_cents,
           CAST(SUM(w) AS BIGINT) AS wtotal,
           CAST((SUM(wx) * 1000) // SUM(w) AS BIGINT)
               AS smoothed_millicents
    FROM contrib GROUP BY day
    """,
)
def events_dyadic_smoothed_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exponentially-weighted (dyadic) smoothed daily purchase revenue
    — the EWMA dashboards plot, made EXACT: weights are powers of two
    (2⁹ for today down to 2⁰ nine days back), so the weighted sum and
    the weight total are exact integers (no float recursion, no drift)
    and the smoothed value is one truncating division in milli-cents
    (positive operands — Spark div ≡ DuckDB //). Missing days simply
    contribute no weight: the weight total per day says exactly how
    much history backs each point.

    Plan shape at 100 TB: the fact table collapses to the daily hash
    agg first; the smoothing is a bounded ×10 explode of that
    calendar-bounded frame joined to the observed-day list (the
    rolling-7d pattern — no range join, no window, no driver state)."""
    _dec = "decimal(38,0)"
    d = materialize_once(
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast(_dec)).alias("cents")
        )
    )
    days = d.select("day")
    fan = d.select(
        F.col("day").alias("src"),
        "cents",
        F.explode(F.expr("sequence(day, date_add(day, 9))")).alias("day"),
    ).withColumn(
        "w",
        F.expr("CAST(shiftleft(1, 9 - datediff(day, src)) AS DECIMAL(38,0))"),
    )
    contrib = fan.join(F.broadcast(days), "day").select(
        "day", (F.col("cents") * F.col("w")).alias("wx"), "w"
    )
    return contrib.groupBy("day").agg(
        F.sum("wx").cast("bigint").alias("wsum_cents"),
        F.sum("w").cast("bigint").alias("wtotal"),
        F.expr(
            "CAST((SUM(wx) * 1000) div SUM(w) AS BIGINT)"
        ).alias("smoothed_millicents"),
    )


@register(
    "orders_daily_backlog",
    oracle="""
    WITH opened AS (
        SELECT o_orderdate AS day, COUNT(*) AS n_opened FROM orders
        GROUP BY 1),
    closes AS (
        SELECT o.o_orderkey, MAX(l.l_shipdate) AS close_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey),
    closed AS (
        SELECT close_day AS day, COUNT(*) AS n_closed FROM closes
        GROUP BY 1),
    grid AS (
        SELECT day, COALESCE(o.n_opened, 0) AS n_opened,
               COALESCE(c.n_closed, 0) AS n_closed
        FROM opened o FULL OUTER JOIN closed c USING (day))
    SELECT day, CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_closed AS BIGINT) AS n_closed,
           CAST(SUM(n_opened - n_closed) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS backlog
    FROM grid
    """,
)
def orders_daily_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order backlog — orders placed but not yet fully shipped
    (open from o_orderdate until the LAST lineitem ship date), the
    work-in-progress series an operations dashboard watches for
    capacity pressure. backlog(d) = cum(opened ≤ d) − cum(closed ≤ d),
    all exact integers; an order with no lineitems never closes and
    stays in the backlog (honest: it IS unshipped work).

    Plan shape at 100 TB: per-order close dates are one orderkey join
    + keyed agg (AQE-skew-splittable; storage-partitioned when both
    tables are bucket-landed); both daily series are calendar-bounded
    hash aggs, and the signed cumulative is the DISTRIBUTED prefix sum
    (range repartition + pid-local window + K broadcast offsets — the
    mannwhitney idiom; the plan gate rejects any unpartitioned window,
    even over a bounded frame)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    opened = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_opened")
    )
    closes = (
        o.select("o_orderkey")
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.max("l_shipdate").alias("day"))
    )
    closed = closes.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_closed")
    )
    grid = (
        opened.join(closed, "day", "full_outer")
        .select(
            "day",
            F.coalesce(F.col("n_opened"), F.lit(0)).alias("n_opened"),
            F.coalesce(F.col("n_closed"), F.lit(0)).alias("n_closed"),
            (
                F.coalesce(F.col("n_opened"), F.lit(0))
                - F.coalesce(F.col("n_closed"), F.lit(0))
            )
            .cast("decimal(38,0)")
            .alias("delta"),
        )
    )
    from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
        global_prefix,
    )

    p = global_prefix(grid, ["day"], {"backlog": F.col("delta")})
    return p.select(
        "day",
        "n_opened",
        "n_closed",
        F.col("backlog").cast("bigint").alias("backlog"),
    )
