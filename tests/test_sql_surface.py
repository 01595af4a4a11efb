"""SQL-surface parity — QUALIFY, ASOF JOIN, GROUP BY ALL through the
frontend (operators/sql_surface.py, sql_frontend.rewrite_qualify /
rewrite_asof_joins, temporal.asof_join_frames)."""

import duckdb
import pytest

from sample_emr_on_eks_fgac_iceberg_spark.operators.temporal import (
    asof_join_frames,
)
from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import (
    SqlFrontend,
    parse_asof_condition,
    rewrite_qualify,
)


@pytest.fixture()
def fe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sup = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 10, 6.0), (4, 20, 9.0), (5, 20, 1.0)],
        "s_suppkey int, s_nationkey int, s_acctbal double",
    )
    wh.create_table("sup", sup.schema)
    wh.insert_into("sup", sup)
    clicks = spark.createDataFrame(
        [(10, 100, 1), (10, 200, 2), (20, 150, 3)],
        "cu int, cts int, click_id int",
    )
    purch = spark.createDataFrame(
        [(10, 150, 11), (10, 200, 12), (20, 100, 13)],
        "pu int, pts int, purchase_id int",
    )
    wh.create_table("clicks", clicks.schema)
    wh.insert_into("clicks", clicks)
    wh.create_table("purch", purch.schema)
    wh.insert_into("purch", purch)
    return SqlFrontend(spark, wh)


# ------------------------------------------------------------- QUALIFY
def test_qualify_alias_predicate(fe):
    got = fe.execute(
        """
        SELECT s_nationkey, s_suppkey,
               row_number() OVER (PARTITION BY s_nationkey
                                  ORDER BY s_acctbal DESC, s_suppkey) AS rk
        FROM sup QUALIFY rk <= 2 ORDER BY s_nationkey, rk
        """
    ).collect()
    assert [(r["s_nationkey"], r["s_suppkey"], r["rk"]) for r in got] == [
        (10, 2, 1),
        (10, 3, 2),
        (20, 4, 1),
        (20, 5, 2),
    ]


def test_qualify_window_sees_unprojected_columns(fe):
    # the QUALIFY window orders by s_acctbal, which the select list
    # does NOT project — DuckDB semantics (predicate sees all FROM
    # columns), delivered by injecting the predicate into the select
    # list; the helper column is dropped from the result
    got = fe.execute(
        """
        SELECT s_nationkey, s_suppkey FROM sup
        QUALIFY row_number() OVER (PARTITION BY s_nationkey
                                   ORDER BY s_acctbal DESC, s_suppkey) = 1
        """
    )
    assert got.columns == ["s_nationkey", "s_suppkey"]
    assert sorted((r[0], r[1]) for r in got.collect()) == [(10, 2), (20, 4)]


def test_qualify_after_cte_where_and_limit(fe):
    got = fe.execute(
        """
        WITH big AS (SELECT * FROM sup WHERE s_acctbal > 1)
        SELECT s_nationkey, s_suppkey FROM big WHERE s_suppkey < 5
        QUALIFY row_number() OVER (PARTITION BY s_nationkey
                                   ORDER BY s_acctbal DESC) = 1
        LIMIT 3
        """
    ).collect()
    assert sorted((r[0], r[1]) for r in got) == [(10, 2), (20, 4)]


def test_qualify_nested_raises():
    with pytest.raises(ValueError, match="top level"):
        rewrite_qualify(
            "SELECT * FROM (SELECT a FROM t QUALIFY row_number() "
            "OVER (ORDER BY a) = 1) x"
        )


def test_qualify_string_literal_not_a_clause():
    q = "SELECT 'no QUALIFY here' AS s FROM t"
    assert rewrite_qualify(q) == q


def test_qualify_adds_no_extra_exchange(fe, spark):
    # the rewrite must plan exactly like the hand-written window
    # filter: ONE hash partition for the window, nothing else
    df = fe.execute(
        """
        SELECT s_nationkey, s_suppkey FROM sup
        QUALIFY row_number() OVER (PARTITION BY s_nationkey
                                   ORDER BY s_acctbal DESC, s_suppkey) = 1
        """
    )
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------- ASOF
def test_asof_inner_backward(fe):
    got = fe.execute(
        """
        SELECT p.purchase_id, c.click_id FROM purch p ASOF JOIN clicks c
        ON p.pu = c.cu AND p.pts >= c.cts
        """
    ).collect()
    assert sorted((r[0], r[1]) for r in got) == [(11, 1), (12, 2)]


def test_asof_left_with_aggregate(fe):
    got = fe.execute(
        """
        SELECT p.purchase_id, c.click_id FROM purch p ASOF LEFT JOIN clicks c
        ON p.pu = c.cu AND p.pts >= c.cts ORDER BY purchase_id
        """
    ).collect()
    assert [(r[0], r[1]) for r in got] == [(11, 1), (12, 2), (13, None)]


def test_asof_strict_and_forward_match_duckdb(fe):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE clicks AS SELECT * FROM (VALUES (10,100,1),"
        "(10,200,2),(20,150,3)) t(cu,cts,click_id)"
    )
    con.execute(
        "CREATE TABLE purch AS SELECT * FROM (VALUES (10,150,11),"
        "(10,200,12),(20,100,13)) t(pu,pts,purchase_id)"
    )
    for cond in ("p.pts > c.cts", "p.pts <= c.cts", "p.pts < c.cts"):
        sql = (
            "SELECT p.purchase_id, c.click_id FROM purch p ASOF JOIN "
            f"clicks c ON p.pu = c.cu AND {cond}"
        )
        got = sorted((r[0], r[1]) for r in fe.execute(sql).collect())
        exp = sorted(con.execute(sql).fetchall())
        assert got == exp, (cond, got, exp)


def test_asof_reversed_operands_normalize(fe):
    # right.ts <= left.ts is the same backward as-of
    got = fe.execute(
        """
        SELECT p.purchase_id, c.click_id FROM purch p ASOF JOIN clicks c
        ON c.cu = p.pu AND c.cts <= p.pts
        """
    ).collect()
    assert sorted((r[0], r[1]) for r in got) == [(11, 1), (12, 2)]


def test_asof_requires_exactly_one_inequality():
    with pytest.raises(ValueError, match="exactly one inequality"):
        parse_asof_condition(
            "p.pu = c.cu AND p.pts >= c.cts AND p.pts <= c.cts2",
            {"p"},
            {"c"},
        )
    with pytest.raises(ValueError, match="requires one inequality"):
        parse_asof_condition("p.pu = c.cu", {"p"}, {"c"})


def test_asof_unknown_relation_raises(fe):
    with pytest.raises(ValueError, match="not a registered"):
        fe.execute(
            "SELECT 1 FROM nope n ASOF JOIN clicks c "
            "ON n.k = c.cu AND n.ts >= c.cts"
        )


def test_asof_frames_rejects_column_overlap(spark):
    a = spark.createDataFrame([(1, 2)], "k int, ts int")
    b = spark.createDataFrame([(1, 2)], "k int, ts int")
    with pytest.raises(ValueError, match="share column names"):
        asof_join_frames(a, b, [("k", "k")], "ts", "ts")


def test_asof_frames_single_shuffle(spark):
    left = spark.createDataFrame(
        [(1, i, i) for i in range(100)], "k int, ts int, lv int"
    )
    right = spark.createDataFrame(
        [(1, i * 2, i) for i in range(50)], "rk int, rts int, rv int"
    )
    j = asof_join_frames(left, right, [("k", "rk")], "ts", "rts")
    j.count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    # union + ONE hash partition on the key for the window — no join
    # exchange pair, no sort-merge
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_group_by_all_matches_explicit(spark, sf_dir):
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    got = QUERIES["group_by_all_revenue"](spark, sf_dir)
    exp = spark.sql(
        """
        SELECT year(o_orderdate) AS yr, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                    AS BIGINT) AS revenue_cents
        FROM __gba_orders GROUP BY yr, o_orderstatus
        """
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exp.collect())
    )


# ------------------------------------------- consumer (policy) path
from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine  # noqa: E402
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (  # noqa: E402
    TEAM1,
    TEAM2,
    setup_healthcare,
)
from sample_emr_on_eks_fgac_iceberg_spark.policy import (  # noqa: E402
    DESCRIBE,
    SELECT,
    AccessDeniedException,
    DataCellsFilter,
)


@pytest.fixture(scope="module")
def hc_engine(spark, tmp_path_factory):
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("sqlsurf_hc")))
    setup_healthcare(eng)
    return eng


def test_consumer_qualify_composes_with_row_filter(hc_engine):
    # team1's policy filter (8 rows, TX/NY) applies FIRST; QUALIFY then
    # picks the min patient per state of the FILTERED rows
    sess = hc_engine.session_for(TEAM1)
    df = sess.sql(
        """
        SELECT patient_id, state FROM patients
        QUALIFY row_number() OVER (PARTITION BY state
                                   ORDER BY patient_id) = 1
        """
    )
    assert df.columns == ["patient_id", "state"]
    got = sorted((r["state"], r["patient_id"]) for r in df.collect())
    assert {s for s, _ in got} == {"New York", "Texas"}
    assert all(1005 <= p <= 1012 for _, p in got)


def test_consumer_qualify_on_ungranted_table_denies(hc_engine):
    with pytest.raises(AccessDeniedException):
        hc_engine.session_for(TEAM2).sql(
            "SELECT patient_id FROM patients "
            "QUALIFY row_number() OVER (ORDER BY patient_id) = 1"
        ).collect()


@pytest.fixture(scope="module")
def asof_engine(spark, tmp_path_factory):
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("sqlsurf_asof")))
    eng.sql("CREATE TABLE tx (user_id BIGINT, xts BIGINT, xval BIGINT)")
    eng.sql(
        "INSERT INTO tx VALUES (1, 150, 11), (1, 200, 12), (2, 150, 21)"
    )
    eng.sql("CREATE TABLE rq (quser BIGINT, qts BIGINT, qv BIGINT)")
    eng.sql(
        "INSERT INTO rq VALUES (1, 100, 5), (1, 180, 6), (2, 100, 7)"
    )
    eng.policy.create_data_cells_filter(
        DataCellsFilter(name="tx_u1", table="tx", row_filter="user_id = 1")
    )
    eng.policy.grant("ana", "tx", filter_name="tx_u1")
    eng.policy.grant("ana", "rq", {SELECT, DESCRIBE})
    eng.policy.grant("bob", "rq", {SELECT, DESCRIBE})
    return eng


def test_consumer_asof_composes_with_row_filter(asof_engine):
    # ana sees only user_id = 1 tx rows; the as-of match rides the
    # SECURED frames (resolver vends this session's temp views)
    got = asof_engine.session_for("ana").sql(
        """
        SELECT t.xval, r.qv FROM tx t ASOF JOIN rq r
        ON t.user_id = r.quser AND t.xts >= r.qts
        """
    ).collect()
    assert sorted((r["xval"], r["qv"]) for r in got) == [(11, 5), (12, 6)]


def test_consumer_asof_ungranted_side_denies(asof_engine):
    with pytest.raises(AccessDeniedException):
        asof_engine.session_for("bob").sql(
            "SELECT t.xval FROM tx t ASOF JOIN rq r "
            "ON t.user_id = r.quser AND t.xts >= r.qts"
        )


_ASOF_ROWS = (
    "t.xval, r.qv FROM tx t ASOF JOIN rq r ON t.user_id = r.quser AND t.xts >= r.qts"
)


@pytest.mark.parametrize("surface", ["producer", "ana"])
def test_asof_spelled_in_a_literal_is_data(asof_engine, surface):
    # the literal names a table ana may not read beside the real join:
    # it is neither resolved nor authorized
    asof_engine.sql("CREATE TABLE IF NOT EXISTS asof_vault (k BIGINT)")
    run = asof_engine.sql if surface == "producer" else asof_engine.session_for(surface).sql
    log = asof_engine.policy.audit_log
    before = len(log)
    want = sorted(tuple(r) for r in run(f"SELECT {_ASOF_ROWS}").collect())
    twin_audit = log[before:]
    before = len(log)
    got = run(f"SELECT 'asof_vault ASOF JOIN tx ON' AS s, {_ASOF_ROWS}").collect()
    assert sorted((r["xval"], r["qv"]) for r in got) == want
    assert {r["s"] for r in got} == {"asof_vault ASOF JOIN tx ON"}
    assert log[before:] == twin_audit
    assert not [e for e in log[before:] if e[1] == "asof_vault"]


@pytest.mark.parametrize("surface", ["producer", "ana"])
def test_asof_beside_a_view_with_its_own_asof(asof_engine, surface):
    # the view's body is desugared in the same session after the outer
    # join was: each as-of join keeps its own registration
    asof_engine.sql(
        "CREATE OR REPLACE VIEW asof_fwd AS SELECT t.xval AS fx, r.qv AS fq FROM tx t "
        "ASOF JOIN rq r ON t.user_id = r.quser AND t.xts <= r.qts"
    )
    run = asof_engine.sql if surface == "producer" else asof_engine.session_for(surface).sql
    back = [("back", 11, 5), ("back", 12, 6)] + [("back", 21, 7)] * (surface == "producer")
    got = run(f"SELECT 'back', {_ASOF_ROWS} UNION ALL SELECT 'fwd', fx, fq FROM asof_fwd")
    assert sorted(map(tuple, got.collect())) == sorted(back + [("fwd", 11, 6)])
    # the view as the side of a later as-of join of the statement
    got = run(
        f"SELECT 'back', {_ASOF_ROWS} UNION ALL SELECT 'side', q.qv, f.fx "
        "FROM rq q ASOF JOIN asof_fwd f ON q.qv = f.fq AND q.qts >= f.fx"
    )
    assert sorted(map(tuple, got.collect())) == sorted(back + [("side", 6, 11)])


def test_consumer_asof_and_qualify_deny_permanent_tables(
    spark, tmp_path_factory
):
    """The sugar rewrites must not open a side door around the
    permanent-catalog fence: the ASOF resolver reads frames directly
    and QUALIFY text never reaches the parsed-relation fence raw, so
    both must deny an unfiltered SPJ mirror by name."""
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("sqlsurf_probe")))
    eng.sql(
        "CREATE TABLE vault (k BIGINT, secret STRING) "
        "PARTITIONED BY (bucket(4, k))"
    )
    eng.sql("INSERT INTO vault VALUES (1, 'S1')")
    eng.sql(
        "CREATE TABLE lookup (dk BIGINT, x STRING) "
        "PARTITIONED BY (bucket(4, dk))"
    )
    eng.sql("INSERT INTO lookup VALUES (1, 'a')")
    assert eng.sql("SELECT * FROM vault JOIN lookup ON k = dk").count() == 1
    mirrors = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__spj_")
    ]
    assert mirrors
    eng.policy.grant("mallory", "lookup", {SELECT, DESCRIBE})
    sess = eng.session_for("mallory")
    for m in mirrors:
        with pytest.raises(AccessDeniedException):
            sess.sql(
                f"SELECT l.x FROM lookup l ASOF JOIN {m} v "
                "ON l.dk = v.k AND l.dk >= v.k"
            )
        with pytest.raises(AccessDeniedException):
            sess.sql(
                f"SELECT k FROM {m} "
                "QUALIFY row_number() OVER (ORDER BY k) = 1"
            ).collect()


# ------------------------------------------------------- DISTINCT ON
def test_distinct_on_matches_duckdb(fe):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE clicks AS SELECT * FROM (VALUES (10,100,1),"
        "(10,200,2),(20,150,3)) t(cu,cts,click_id)"
    )
    sql = (
        "SELECT DISTINCT ON (cu) cu, cts, click_id FROM clicks "
        "ORDER BY cu, cts DESC, click_id DESC"
    )
    got = [tuple(r) for r in fe.execute(sql).collect()]
    exp = con.execute(sql).fetchall()
    assert got == exp == [(10, 200, 2), (20, 150, 3)]


def test_distinct_on_helper_column_dropped(fe):
    df = fe.execute(
        "SELECT DISTINCT ON (cu) cu, click_id FROM clicks "
        "ORDER BY cu, cts DESC"
    )
    assert df.columns == ["cu", "click_id"]


def test_distinct_on_requires_order_by():
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import (
        rewrite_distinct_on,
    )

    with pytest.raises(ValueError, match="requires an ORDER BY"):
        rewrite_distinct_on("SELECT DISTINCT ON (k) k, v FROM t")
    with pytest.raises(ValueError, match="top level"):
        rewrite_distinct_on(
            "SELECT * FROM (SELECT DISTINCT ON (k) k FROM t ORDER BY k) x"
        )


def test_consumer_distinct_on_under_policy(asof_engine):
    # ana's row filter (user_id = 1) applies before the group-top-1
    got = asof_engine.session_for("ana").sql(
        "SELECT DISTINCT ON (user_id) user_id, xts, xval FROM tx "
        "ORDER BY user_id, xts DESC"
    ).collect()
    assert [tuple(r) for r in got] == [(1, 200, 12)]


def test_consumer_distinct_on_denies_permanent_tables(
    spark, tmp_path_factory
):
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("sqlsurf_don")))
    eng.sql(
        "CREATE TABLE v2 (k BIGINT, s STRING) PARTITIONED BY (bucket(4, k))"
    )
    eng.sql("INSERT INTO v2 VALUES (1, 'S')")
    eng.sql(
        "CREATE TABLE l2 (dk BIGINT, x STRING) PARTITIONED BY (bucket(4, dk))"
    )
    eng.sql("INSERT INTO l2 VALUES (1, 'a')")
    assert eng.sql("SELECT * FROM v2 JOIN l2 ON k = dk").count() == 1
    mirrors = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__spj_")
    ]
    assert mirrors
    eng.policy.grant("mallory", "l2", {SELECT, DESCRIBE})
    sess = eng.session_for("mallory")
    with pytest.raises(AccessDeniedException):
        sess.sql(
            f"SELECT DISTINCT ON (k) k FROM {mirrors[0]} ORDER BY k"
        ).collect()


# --------------------------------------------- as-of property battery
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _brute_asof(left, right, op, how):
    """Reference as-of: per left row, the matching right row under the
    inequality with the greatest (backward) / least (forward) ts,
    struct-max tie-break on the full right row (the helper's
    documented tie rule)."""
    import operator

    cmp = {
        ">=": operator.ge,
        ">": operator.gt,
        "<=": operator.le,
        "<": operator.lt,
    }[op]
    out = []
    for lk, lts, lv in left:
        cands = [r for r in right if r[0] == lk and cmp(lts, r[1])]
        if cands:
            best_ts = (
                max(c[1] for c in cands)
                if op in (">=", ">")
                else min(c[1] for c in cands)
            )
            best = max(c for c in cands if c[1] == best_ts)
            out.append((lk, lts, lv, best[2]))
        elif how == "left":
            out.append((lk, lts, lv, None))
    return sorted(out)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 8), st.integers(0, 99)
        ),
        max_size=18,
    ),
    right=st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 8), st.integers(0, 99)
        ),
        max_size=18,
    ),
    op=st.sampled_from([">=", ">", "<=", "<"]),
    how=st.sampled_from(["inner", "left"]),
)
@pytest.mark.slow
def test_asof_frames_matches_brute_reference(spark, left, right, op, how):
    ldf = spark.createDataFrame(
        left or [(99, 99, 99)], "k int, ts int, lv int"
    )
    rdf = spark.createDataFrame(
        right or [(98, 98, 98)], "rk int, rts int, rv int"
    )
    j = asof_join_frames(ldf, rdf, [("k", "rk")], "ts", "rts", op, how)
    got = sorted(
        (r["k"], r["ts"], r["lv"], r["rv"]) for r in j.collect()
    )
    exp = _brute_asof(left or [(99, 99, 99)], right or [(98, 98, 98)], op, how)
    assert got == exp, (op, how, got, exp)


# ------------------------------------------- PIVOT / UNPIVOT (round 13)
def test_pivot_sql_two_phase_agg_no_join(spark, sf_dir):
    """PIVOT compiles to Spark's canonical two-phase pivot aggregate —
    groupBy(yr, st) partial sums, then pivotfirst keyed on yr — i.e.
    exactly two keyed exchanges, both with map-side partials, no join
    and no row explosion. (The FILTER-rollup spelling would be one
    exchange; the pivot plan trades that for never widening rows
    before the first agg — both are fact-scan-once.)"""
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    df = QUERIES["pivot_sql_status_revenue"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "pivotfirst" in plan, plan
    assert "Join" not in plan, plan


def test_unpivot_sql_expands_aggregate_not_fact(spark, sf_dir):
    """UNPIVOT plans as an Expand ABOVE the aggregate (×|metrics| on
    ≤|nations| rows) — one fact scan, not the oracle's two."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    df = QUERIES["unpivot_sql_supplier_metrics"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan, plan
    assert plan.count("Scan ") == 1, plan


def test_consumer_pivot_composes_with_row_filter(hc_engine):
    """PIVOT through SecureSession sees the FILTERED relation: the
    California column is NULL (its rows never reach the pivot), and an
    ungranted principal denies at plan time."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        AccessDeniedException,
    )

    s1 = hc_engine.session_for(TEAM1)
    rows = s1.sql(
        """
        SELECT * FROM (SELECT state, 1 AS one FROM patients)
        PIVOT (COUNT(one) FOR state IN
               ('Texas' AS tx, 'New York' AS ny, 'California' AS ca))
        """
    ).collect()
    assert len(rows) == 1
    assert (rows[0]["tx"], rows[0]["ny"], rows[0]["ca"]) == (4, 4, None)
    with pytest.raises(AccessDeniedException):
        hc_engine.session_for(TEAM2).sql(
            "SELECT * FROM (SELECT state, 1 AS one FROM patients) "
            "PIVOT (COUNT(one) FOR state IN ('Texas' AS tx))"
        )


def test_consumer_unpivot_never_vends_masked_out_columns(hc_engine):
    """UNPIVOT cannot resurrect a column the whitelist hides: listing
    ssn in the IN clause is an unresolved column for team1, never
    data."""
    s1 = hc_engine.session_for(TEAM1)
    with pytest.raises(Exception, match="ssn|UNRESOLVED|cannot be resolved"):
        s1.sql(
            "SELECT patient_id, metric, val FROM patients "
            "UNPIVOT (val FOR metric IN (ssn))"
        ).collect()


# --------------------------- named WINDOW + snapshot diff (round 13)
def test_named_window_shares_one_exchange(spark, sf_dir):
    """Both named windows share partition key and order — the plan
    must carry exactly ONE hash exchange and one sort."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    df = QUERIES["window_named_sql_ranks"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_snapshot_diff_directions(spark, sf_dir):
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    rows = sorted(
        map(tuple, QUERIES["time_travel_snapshot_diff"](spark, sf_dir).collect())
    )
    assert rows == [("added", 4, "d"), ("added", 5, "e")]
