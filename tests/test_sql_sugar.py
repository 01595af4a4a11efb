"""Textual SQL sugar — ``* EXCLUDE``, ``FETCH FIRST … ONLY/WITH
TIES``, quantified ``ALL/ANY/SOME`` subqueries
(sql_frontend.rewrite_text_sugar) — on both surfaces, with DuckDB's
NATIVE grammar as the ground truth for the quantified truth table."""

import duckdb
import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (
    TEAM1,
    TEAM2,
    setup_healthcare,
)
from sample_emr_on_eks_fgac_iceberg_spark.policy import AccessDeniedException
from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import (
    SqlFrontend,
    rewrite_fetch_first,
    rewrite_quantified_subqueries,
    rewrite_star_exclude,
)


@pytest.fixture()
def fe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 20, "c"), (4, 30, "d"),
         (5, 30, "e"), (6, 30, "f")],
        "id int, x int, s string",
    )
    wh.create_table("t", t.schema)
    wh.insert_into("t", t)
    r = spark.createDataFrame([(15,), (25,)], "v int")
    wh.create_table("r", r.schema)
    wh.insert_into("r", r)
    return SqlFrontend(spark, wh)


# ------------------------------------------------------ * EXCLUDE
def test_exclude_paren_list(fe):
    df = fe.execute("SELECT * EXCLUDE (s, x) FROM t ORDER BY id")
    assert df.columns == ["id"]
    assert [r["id"] for r in df.collect()] == [1, 2, 3, 4, 5, 6]


def test_exclude_single_column_no_parens(fe):
    df = fe.execute("SELECT * EXCLUDE s FROM t WHERE id = 1")
    assert df.columns == ["id", "x"]


def test_exclude_does_not_touch_multiplication():
    q = "SELECT a * exclude_col FROM t"
    assert rewrite_star_exclude(q) == q


def test_exclude_inside_string_literal_untouched():
    q = "SELECT '* EXCLUDE (a)' AS lit, * EXCLUDE (s) FROM t"
    out = rewrite_star_exclude(q)
    assert "'* EXCLUDE (a)'" in out and "* EXCEPT (s)" in out


def test_exclude_requires_column_list():
    with pytest.raises(ValueError, match="EXCLUDE"):
        rewrite_star_exclude("SELECT * EXCLUDE FROM t")


# ------------------------------------------------- FETCH FIRST n
def test_fetch_first_only_is_limit(fe):
    got = fe.execute(
        "SELECT id FROM t ORDER BY id DESC FETCH FIRST 2 ROWS ONLY"
    ).collect()
    assert [r["id"] for r in got] == [6, 5]


def test_fetch_first_default_one_row(fe):
    got, changed = rewrite_fetch_first(
        "SELECT id FROM t ORDER BY id FETCH FIRST ROW ONLY"
    )
    assert changed and got.endswith("LIMIT 1")


def test_fetch_with_ties_includes_tied_rows(fe):
    # x DESC: top-1 is 30, held by ids 4,5,6 — WITH TIES returns all 3
    got = fe.execute(
        "SELECT id, x FROM t ORDER BY x DESC FETCH FIRST 1 ROWS WITH TIES"
    ).collect()
    assert sorted(r["id"] for r in got) == [4, 5, 6]
    assert {r["x"] for r in got} == {30}


def test_fetch_with_ties_asc_matches_duckdb_rank(fe):
    got = fe.execute(
        "SELECT id, x FROM t ORDER BY x FETCH FIRST 3 ROWS WITH TIES"
    ).collect()
    con = duckdb.connect()
    exp = con.sql(
        "WITH s AS (SELECT * FROM (VALUES (1,10),(2,20),(3,20),(4,30),"
        "(5,30),(6,30)) v(id,x)), "
        "k AS (SELECT id, x, rank() OVER (ORDER BY x) AS rk FROM s) "
        "SELECT id, x FROM k WHERE rk <= 3"
    ).fetchall()
    assert sorted((r["id"], r["x"]) for r in got) == sorted(exp)


def test_fetch_with_ties_requires_order_by():
    with pytest.raises(ValueError, match="ORDER BY"):
        rewrite_fetch_first("SELECT id FROM t FETCH FIRST 2 ROWS WITH TIES")


def test_fetch_with_ties_refuses_multi_key():
    with pytest.raises(ValueError, match="single"):
        rewrite_fetch_first(
            "SELECT id FROM t ORDER BY x, id FETCH FIRST 2 ROWS WITH TIES"
        )


def test_fetch_with_ties_over_cte_body(fe):
    got = fe.execute(
        "WITH big AS (SELECT id, x FROM t WHERE x >= 20) "
        "SELECT id, x FROM big ORDER BY x FETCH FIRST 1 ROWS WITH TIES"
    ).collect()
    assert sorted(r["id"] for r in got) == [2, 3]


# ------------------------------------- quantified ALL / ANY / SOME
def test_all_any_against_warehouse(fe):
    # r = {15, 25}: x > ALL → x > 25 → ids 4,5,6; x > ANY → x > 15 →
    # ids 2..6; x = ANY → none (x ∈ {10,20,30}); x <> ALL → all six
    assert sorted(
        r["id"]
        for r in fe.execute(
            "SELECT id FROM t WHERE x > ALL (SELECT v FROM r)"
        ).collect()
    ) == [4, 5, 6]
    assert sorted(
        r["id"]
        for r in fe.execute(
            "SELECT id FROM t WHERE x > SOME (SELECT v FROM r)"
        ).collect()
    ) == [2, 3, 4, 5, 6]
    assert (
        fe.execute(
            "SELECT id FROM t WHERE x = ANY (SELECT v FROM r)"
        ).count()
        == 0
    )
    assert (
        fe.execute(
            "SELECT id FROM t WHERE x <> ALL (SELECT v FROM r)"
        ).count()
        == 6
    )


@pytest.mark.parametrize("op", [">", ">=", "<", "<=", "=", "<>"])
@pytest.mark.parametrize("quant", ["ALL", "ANY"])
def test_quantified_truth_table_matches_duckdb(spark, op, quant):
    """The full standard truth table — empty set, NULL elements, NULL
    LHS — against DuckDB's NATIVE quantified comparison."""
    sets = {
        "empty": "SELECT v FROM (VALUES (1)) s(v) WHERE v > 99",
        "plain": "SELECT v FROM (VALUES (1), (3)) s(v)",
        "nullmix": "SELECT v FROM (VALUES (1), (NULL)) s(v)",
        "allnull": "SELECT v FROM (VALUES (CAST(NULL AS INT))) s(v)",
        "onenull3": "SELECT v FROM (VALUES (3), (NULL)) s(v)",
    }
    con = duckdb.connect()
    for lhs in ("2", "1", "3", "4", "NULL"):
        for label, sq in sets.items():
            q = f"SELECT {lhs} {op} {quant} ({sq}) AS res"
            exp = con.sql(q).fetchone()[0]
            got_rows = spark.sql(rewrite_quantified_subqueries(q)).collect()
            got = got_rows[0]["res"]
            assert got == exp, (lhs, op, quant, label, got, exp)


def test_quantified_lhs_must_be_simple():
    with pytest.raises(ValueError, match="left-hand side"):
        rewrite_quantified_subqueries(
            "SELECT * FROM t WHERE (a + b) > ALL (SELECT v FROM r)"
        )


def test_quantified_inside_string_untouched():
    q = "SELECT '> ALL (SELECT v FROM r)' AS lit FROM t"
    assert rewrite_quantified_subqueries(q) == q


def test_union_all_parenthesized_untouched():
    q = "SELECT id FROM t UNION ALL (SELECT id FROM t)"
    assert rewrite_quantified_subqueries(q) == q


# ------------------------------------------- consumer (policy) path
@pytest.fixture(scope="module")
def hc_engine(spark, tmp_path_factory):
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("sugar_hc")))
    setup_healthcare(eng)
    return eng


def test_consumer_exclude_composes_with_policy(hc_engine):
    sess = hc_engine.session_for(TEAM1)
    df = sess.sql("SELECT * EXCLUDE (date_of_birth) FROM patients")
    assert "date_of_birth" not in df.columns and "ssn" not in df.columns
    assert df.count() == 8  # team1's row filter still applies


def test_consumer_exclude_cannot_resurrect_hidden_column(hc_engine):
    # ssn is outside team1's column whitelist — naming it in EXCLUDE
    # must resolve against the FILTERED schema and fail, never leak
    sess = hc_engine.session_for(TEAM1)
    with pytest.raises(Exception, match="(?i)ssn|resolve|cannot"):
        sess.sql("SELECT * EXCLUDE (ssn) FROM patients").collect()


def test_consumer_fetch_ties_denied_on_ungranted(hc_engine):
    with pytest.raises(AccessDeniedException):
        hc_engine.session_for(TEAM2).sql(
            "SELECT patient_id FROM patients ORDER BY patient_id "
            "FETCH FIRST 2 ROWS WITH TIES"
        ).collect()


def test_consumer_quantified_subquery_denied_on_ungranted(hc_engine):
    # the quantified rewrite inlines the subquery — its relation must
    # still hit the parsed-relation fence for the OUTER principal
    with pytest.raises(AccessDeniedException):
        hc_engine.session_for(TEAM2).sql(
            "SELECT 1 AS x WHERE 2 > ALL (SELECT patient_id FROM patients)"
        ).collect()


def test_consumer_fetch_ties_under_row_filter(hc_engine):
    sess = hc_engine.session_for(TEAM1)
    got = sess.sql(
        "SELECT patient_id, state FROM patients ORDER BY state "
        "FETCH FIRST 1 ROWS WITH TIES"
    ).collect()
    # team1 sees NY+TX only; 'New York' sorts first — ALL its rows tie
    assert {r["state"] for r in got} == {"New York"}
    assert len(got) >= 2


def test_consumer_view_body_with_sugar(hc_engine):
    # a consumer view whose BODY uses EXCLUDE + WITH TIES resolves
    # through the invoker's-rights path (the SecureSession's
    # StatementScope → rewrite_sugar), composing with the row filter
    sess = hc_engine.session_for(TEAM1)
    sess.sql(
        "CREATE VIEW sugar_v AS "
        "SELECT * EXCLUDE (city) FROM patients "
        "ORDER BY state FETCH FIRST 1 ROWS WITH TIES"
    )
    got = sess.sql("SELECT patient_id, state FROM sugar_v").collect()
    assert {r["state"] for r in got} == {"New York"}
    assert len(got) >= 2
    cols = sess.sql("SELECT * FROM sugar_v").columns
    assert "city" not in cols and "ssn" not in cols
    sess.sql("DROP VIEW sugar_v")


# Each statement holds a quote or a bracket the sugar rewrites must not
# read as structure: a backslash-escaped quote in a literal, a paren in a
# quoted identifier. Its twin spells the same query without it.
_QUOTED_STRUCTURE = [
    (
        "SELECT patient_id, claim_id FROM claims WHERE claim_id <> 'O\\'Brien' "
        "QUALIFY row_number() OVER (PARTITION BY patient_id ORDER BY claim_id) = 1",
        "SELECT patient_id, claim_id FROM claims WHERE claim_id <> 'OBrien' "
        "QUALIFY row_number() OVER (PARTITION BY patient_id ORDER BY claim_id) = 1",
    ),
    (
        "SELECT DISTINCT ON (patient_id) patient_id, claim_id FROM claims "
        "WHERE claim_id <> 'O\\'Brien' ORDER BY patient_id, claim_id",
        "SELECT DISTINCT ON (patient_id) patient_id, claim_id FROM claims "
        "WHERE claim_id <> 'OBrien' ORDER BY patient_id, claim_id",
    ),
    (
        "SELECT patient_id, claim_id AS `a(b` FROM claims "
        "QUALIFY row_number() OVER (PARTITION BY patient_id ORDER BY claim_id) = 1",
        "SELECT patient_id, claim_id AS `ab` FROM claims "
        "QUALIFY row_number() OVER (PARTITION BY patient_id ORDER BY claim_id) = 1",
    ),
    (
        "SELECT DISTINCT ON (patient_id) patient_id, claim_id AS `x)y` FROM claims "
        "ORDER BY patient_id, claim_id",
        "SELECT DISTINCT ON (patient_id) patient_id, claim_id AS `xy` FROM claims "
        "ORDER BY patient_id, claim_id",
    ),
    (
        "SELECT patient_id, claim_id AS `a(b` FROM claims "
        "ORDER BY patient_id FETCH FIRST 2 ROWS WITH TIES",
        "SELECT patient_id, claim_id AS `ab` FROM claims "
        "ORDER BY patient_id FETCH FIRST 2 ROWS WITH TIES",
    ),
]


@pytest.mark.parametrize("surface", ["producer", TEAM1])
@pytest.mark.parametrize("query, twin", _QUOTED_STRUCTURE)
def test_quoted_structure_returns_the_twins_rows(hc_engine, surface, query, twin):
    run = hc_engine.sql if surface == "producer" else hc_engine.session_for(surface).sql
    want = sorted(tuple(r) for r in run(twin).collect())
    assert want  # the twin reads rows: 10, 10, 10, 10 and 2
    assert sorted(tuple(r) for r in run(query).collect()) == want


def test_fetch_with_ties_refuses_offset():
    with pytest.raises(ValueError, match="OFFSET"):
        rewrite_fetch_first(
            "SELECT id FROM t ORDER BY x OFFSET 5 ROWS "
            "FETCH FIRST 2 ROWS WITH TIES"
        )


@pytest.mark.slow
def test_fetch_with_ties_randomized_matches_rank(spark):
    """Seeded randomized equivalence: WITH TIES over heavy-tie data ≡
    rank() <= n (DuckDB computes the rank spelling natively)."""
    import random

    rng = random.Random(1313)
    con = duckdb.connect()
    for trial in range(12):
        rows = [(i, rng.randint(0, 4)) for i in range(rng.randint(1, 25))]
        n = rng.randint(1, 6)
        desc = rng.random() < 0.5
        d = "DESC" if desc else ""
        spark.createDataFrame(rows, "id int, x int").createOrReplaceTempView(
            "__wt_rand"
        )
        q, changed = rewrite_fetch_first(
            f"SELECT id, x FROM __wt_rand ORDER BY x {d} "
            f"FETCH FIRST {n} ROWS WITH TIES"
        )
        assert changed
        got = sorted((r["id"], r["x"]) for r in spark.sql(q).collect())
        vals = ", ".join(f"({i}, {x})" for i, x in rows)
        exp = sorted(
            con.sql(
                f"WITH s(id, x) AS (VALUES {vals}), "
                f"k AS (SELECT id, x, rank() OVER (ORDER BY x {d}) rk FROM s) "
                f"SELECT id, x FROM k WHERE rk <= {n}"
            ).fetchall()
        )
        assert got == exp, (trial, n, d, rows, got, exp)


def test_exclude_projection_position_fuzz():
    """The projection-position heuristic must rewrite stars after
    SELECT/DISTINCT/','/'('/alias-dot and leave multiplication alone,
    regardless of surrounding identifier noise."""
    cases_rewrite = [
        "SELECT * EXCLUDE (a) FROM t",
        "SELECT DISTINCT * EXCLUDE (a) FROM t",
        "SELECT t.* EXCLUDE (a) FROM t",
        "SELECT x, * EXCLUDE (a) FROM t",
        "SELECT count(1), (SELECT * EXCLUDE (a) FROM u LIMIT 1) FROM t",
    ]
    cases_preserve = [
        "SELECT a * exclude_col FROM t",
        "SELECT price * exclude FROM t",
        "SELECT 3 * exclude(a) FROM t",
        "SELECT f(a) * exclude_b FROM t",
    ]
    for q in cases_rewrite:
        out = rewrite_star_exclude(q)
        assert "EXCEPT (" in out and "EXCLUDE" not in out.upper(), q
    for q in cases_preserve:
        assert rewrite_star_exclude(q) == q, q


def test_fetch_with_ties_key_ending_in_desc_not_truncated():
    out, changed = rewrite_fetch_first(
        "SELECT * FROM t ORDER BY salesasc FETCH FIRST 2 ROWS WITH TIES"
    )
    assert changed
    assert "salesasc <=" in out and "ORDER BY salesasc ASC" in out
    out, _ = rewrite_fetch_first(
        "SELECT * FROM t ORDER BY price_desc FETCH FIRST 2 ROWS WITH TIES"
    )
    assert "price_desc <=" in out and "ORDER BY price_desc ASC" in out


def test_fetch_only_lifts_standard_offset(fe):
    got = fe.execute(
        "SELECT id FROM t ORDER BY id OFFSET 2 ROWS "
        "FETCH FIRST 3 ROWS ONLY"
    ).collect()
    assert [r["id"] for r in got] == [3, 4, 5]


def test_fetch_with_ties_null_keys_match_rank(spark, tmp_path):
    """NULLS LAST contract vs rank(): below the NULL boundary the
    NULL-key rows are excluded; once n reaches into them they all tie
    in; an all-NULL key returns every row."""
    wh = Warehouse(spark, str(tmp_path / "whnul"))
    t = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, None)], "id int, x int"
    )
    wh.create_table("tn", t.schema)
    wh.insert_into("tn", t)
    fe2 = SqlFrontend(spark, wh)

    def ids(n):
        got = fe2.execute(
            f"SELECT id, x FROM tn ORDER BY x FETCH FIRST {n} ROWS WITH TIES"
        ).collect()
        return sorted(r["id"] for r in got)

    def rank_ids(n):
        rows = spark.sql(
            "SELECT id FROM (SELECT id, rank() OVER "
            "(ORDER BY x ASC NULLS LAST) rk FROM "
            "(VALUES (1, 10), (2, 20), (3, NULL), (4, NULL)) v(id, x)) "
            f"WHERE rk <= {n}"
        ).collect()
        return sorted(r["id"] for r in rows)

    for n in (1, 2, 3, 4):
        assert ids(n) == rank_ids(n), n
    # all-NULL key: every row ties at rank 1
    allnull = spark.createDataFrame([(1, None), (2, None)], "id int, x int")
    wh.create_table("tan", allnull.schema)
    wh.insert_into("tan", allnull)
    got = fe2.execute(
        "SELECT id, x FROM tan ORDER BY x FETCH FIRST 1 ROWS WITH TIES"
    ).collect()
    assert sorted(r["id"] for r in got) == [1, 2]


@pytest.mark.slow
def test_fetch_with_ties_randomized_with_nulls_matches_rank(spark):
    """Seeded randomized equivalence INCLUDING NULL keys: WITH TIES ≡
    rank() OVER (ORDER BY key [DESC] NULLS LAST) <= n — the contract
    the NULLS-LAST rewrite pins (Spark rank is computed directly so
    the engine defines its own NULL ordering explicitly)."""
    import random

    rng = random.Random(4242)
    for trial in range(12):
        rows = [
            (i, rng.choice([None, 0, 1, 2, 3]))
            for i in range(rng.randint(1, 20))
        ]
        n = rng.randint(1, 6)
        d = "DESC" if rng.random() < 0.5 else ""
        spark.createDataFrame(rows, "id int, x int").createOrReplaceTempView(
            "__wt_rnul"
        )
        q, changed = rewrite_fetch_first(
            f"SELECT id, x FROM __wt_rnul ORDER BY x {d} "
            f"FETCH FIRST {n} ROWS WITH TIES"
        )
        assert changed
        got = sorted(
            (r["id"], r["x"]) for r in spark.sql(q).collect()
        )
        exp = sorted(
            (r["id"], r["x"])
            for r in spark.sql(
                f"SELECT id, x FROM (SELECT id, x, rank() OVER "
                f"(ORDER BY x {d} NULLS LAST) rk FROM __wt_rnul) "
                f"WHERE rk <= {n}"
            ).collect()
        )
        assert got == exp, (trial, n, d, rows, got, exp)
