"""Producer-side persistent SQL views (warehouse views section +
SqlFrontend CREATE/DROP/SHOW VIEW dispatch): Iceberg-view-spec-style
versioned metadata, current-version resolution at read time, nested
views, sugar in bodies, namespace guards."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend


@pytest.fixture()
def fe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    fe = SqlFrontend(spark, wh)
    fe.execute("CREATE TABLE t (k BIGINT, v BIGINT)")
    fe.execute("INSERT INTO t VALUES (1, 10), (1, 20), (2, 30)")
    return fe


def test_view_reads_current_data(fe):
    fe.execute("CREATE VIEW agg_v AS SELECT k, SUM(v) AS s FROM t GROUP BY k")
    got = sorted(map(tuple, fe.execute("SELECT * FROM agg_v").collect()))
    assert got == [(1, 30), (2, 30)]
    # views are resolved per query — table mutations show immediately
    fe.execute("INSERT INTO t VALUES (3, 99)")
    got = sorted(map(tuple, fe.execute("SELECT * FROM agg_v").collect()))
    assert got == [(1, 30), (2, 30), (3, 99)]


def test_nested_view_with_sugar_body(fe):
    fe.execute("CREATE VIEW agg_v AS SELECT k, SUM(v) AS s FROM t GROUP BY k")
    fe.execute(
        "CREATE VIEW top_v AS SELECT k FROM agg_v "
        "QUALIFY row_number() OVER (ORDER BY s DESC, k) = 1"
    )
    assert [r["k"] for r in fe.execute("SELECT * FROM top_v").collect()] == [1]


def test_or_replace_appends_version(fe):
    fe.execute("CREATE VIEW v1 AS SELECT k FROM t")
    fe.execute("CREATE OR REPLACE VIEW v1 AS SELECT v FROM t")
    doc = fe.warehouse.view_doc("v1")
    assert doc["current-version-id"] == 2
    assert len(doc["versions"]) == 2
    assert doc["versions"][0]["sql"] == "SELECT k FROM t"
    assert fe.execute("SELECT * FROM v1").columns == ["v"]
    # bare CREATE on an existing view refuses
    with pytest.raises(ValueError, match="already exists"):
        fe.execute("CREATE VIEW v1 AS SELECT 1")


def test_namespace_is_shared_with_tables(fe):
    fe.execute("CREATE VIEW nv AS SELECT k FROM t")
    with pytest.raises(ValueError, match="view with that name"):
        fe.execute("CREATE TABLE nv (x INT)")
    with pytest.raises(ValueError, match="table with that name"):
        fe.execute("CREATE VIEW t AS SELECT 1")


def test_create_validates_body(fe):
    with pytest.raises(Exception):
        fe.execute("CREATE VIEW bad AS SELECT no_such_col FROM t")
    assert "bad" not in fe.warehouse.list_views()
    with pytest.raises(Exception):
        fe.execute("CREATE VIEW bad2 AS SELECT * FROM no_such_table")
    assert "bad2" not in fe.warehouse.list_views()


@pytest.mark.parametrize("surface", ["producer", "consumer"])
def test_replace_cycle_detected_at_read(spark, tmp_path, fe, surface):
    run = fe.execute
    if surface == "consumer":  # a SecureSession over the same warehouse
        eng = FgacEngine(spark, str(tmp_path / "wh"))
        eng.policy.grant("reader", "t")
        run = eng.session_for("reader").sql
    run("CREATE VIEW a_v AS SELECT k FROM t")
    run("CREATE VIEW b_v AS SELECT k FROM a_v")
    # REPLACE a_v to read b_v: validation sees the OLD a_v inside b_v,
    # so the cycle only exists after the swap — the read must refuse
    # loudly, not recurse forever or read a stale a_v
    run("CREATE OR REPLACE VIEW a_v AS SELECT k FROM b_v")
    with pytest.raises(ValueError, match="cycle"):
        run("SELECT * FROM a_v").collect()


def test_view_names_in_literals_are_data(fe):
    """A view's body names another view only where its parse does: two
    views that spell each other in string literals are no cycle."""
    fe.execute("CREATE TABLE u (k BIGINT)")
    fe.execute("INSERT INTO u VALUES (5)")
    fe.execute("CREATE VIEW va AS SELECT 'vb' AS tag, k FROM t")
    fe.execute("CREATE VIEW vb AS SELECT 'va' AS tag, k FROM u")
    assert sorted(map(tuple, fe.execute("SELECT * FROM va").collect())) == [
        ("vb", 1), ("vb", 1), ("vb", 2),
    ]
    assert [tuple(r) for r in fe.execute("SELECT * FROM vb").collect()] == [("va", 5)]


def test_view_read_loads_only_the_tables_its_body_reads(fe, monkeypatch):
    fe.execute("CREATE TABLE u (k BIGINT)")
    fe.execute("CREATE VIEW vc AS SELECT 'u' AS note, k FROM t")
    calls, read = [], Warehouse.read_table

    def spy(self, name, *args, **kwargs):
        calls.append(name)
        return read(self, name, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "read_table", spy)
    assert fe.execute("SELECT count(*) FROM vc").collect()[0][0] == 3
    assert calls == ["t"]


def test_drop_and_show(fe):
    fe.execute("CREATE VIEW sv AS SELECT k FROM t")
    rows = fe.execute("SHOW VIEWS").collect()
    assert [(r["view_name"], r["current_version"]) for r in rows] == [
        ("sv", 1)
    ]
    stmt = fe.execute("SHOW CREATE VIEW sv").collect()[0][0]
    assert stmt == "CREATE VIEW sv AS SELECT k FROM t"
    fe.execute("DROP VIEW sv")
    assert fe.warehouse.list_views() == []
    with pytest.raises(ValueError, match="does not exist"):
        fe.execute("DROP VIEW sv")
    fe.execute("DROP VIEW IF EXISTS sv")  # no error


def test_dotted_view_name(fe):
    fe.execute("CREATE DATABASE d1")
    fe.execute(
        "CREATE VIEW d1.totals AS SELECT k, SUM(v) AS s FROM t GROUP BY k"
    )
    got = sorted(map(tuple, fe.execute("SELECT * FROM d1.totals").collect()))
    assert got == [(1, 30), (2, 30)]


def test_view_over_dotted_table(fe, spark):
    fe.execute("CREATE DATABASE d2")
    fe.execute("CREATE TABLE d2.base (x BIGINT)")
    fe.execute("INSERT INTO d2.base VALUES (7)")
    fe.execute("CREATE VIEW dv AS SELECT x + 1 AS y FROM d2.base")
    assert [r["y"] for r in fe.execute("SELECT * FROM dv").collect()] == [8]


# --------------------------------- shared views under invoker's rights
from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine  # noqa: E402
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (  # noqa: E402
    TEAM1,
    TEAM2,
    setup_healthcare,
)
from sample_emr_on_eks_fgac_iceberg_spark.policy import (  # noqa: E402
    AccessDeniedException,
)


@pytest.fixture()
def hc(spark, tmp_path):
    eng = FgacEngine(spark, str(tmp_path / "hcwh"))
    setup_healthcare(eng)
    eng.sql(
        "CREATE VIEW patient_states AS "
        "SELECT patient_id, state FROM patients"
    )
    return eng


def test_shared_view_applies_readers_policy(hc):
    # producer reads the view unfiltered; team1 gets its row filter
    assert hc.sql("SELECT * FROM patient_states").count() > 8
    df = hc.session_for(TEAM1).sql("SELECT * FROM patient_states")
    rows = df.collect()
    assert len(rows) == 8
    assert {r.state for r in rows} == {"Texas", "New York"}


def test_shared_view_denies_ungranted_reader(hc):
    # team2 holds nothing on patients — the shared view must not vend
    with pytest.raises(AccessDeniedException):
        hc.session_for(TEAM2).sql("SELECT * FROM patient_states").collect()


def test_shared_view_cannot_expose_hidden_columns(hc):
    hc.sql("CREATE VIEW leaky AS SELECT patient_id, ssn FROM patients")
    # producer sees ssn; team1's column whitelist hides it, so the
    # invoker's-rights rebuild fails to resolve ssn — surfaced as a
    # denial/analysis error, never data
    assert hc.sql("SELECT * FROM leaky").count() > 0
    with pytest.raises(Exception) as ei:
        hc.session_for(TEAM1).sql("SELECT * FROM leaky").collect()
    # the failure names the unresolved column, never an SSN value
    assert "ssn" in str(ei.value)
    assert not any(ch.isdigit() for ch in str(ei.value).split("ssn")[0][-20:])


def test_consumer_view_shadows_shared_view(hc):
    sess = hc.session_for(TEAM1)
    sess.sql(
        "CREATE VIEW patient_states AS "
        "SELECT patient_id FROM patients WHERE state = 'Texas'"
    )
    df = sess.sql("SELECT * FROM patient_states")
    assert df.columns == ["patient_id"]


def test_shared_view_drop_propagates(hc):
    sess = hc.session_for(TEAM1)
    assert sess.sql("SELECT * FROM patient_states").count() == 8
    hc.sql("DROP VIEW patient_states")
    with pytest.raises(Exception) as ei:
        sess.sql("SELECT * FROM patient_states").collect()
    # the stale temp copy is swept — unknown name, not served data
    msg = str(ei.value)
    assert "TABLE_OR_VIEW_NOT_FOUND" in msg or "cannot be found" in msg


def test_shared_view_replace_propagates(hc):
    sess = hc.session_for(TEAM1)
    assert len(sess.sql("SELECT * FROM patient_states").columns) == 2
    hc.sql(
        "CREATE OR REPLACE VIEW patient_states AS "
        "SELECT patient_id FROM patients"
    )
    assert sess.sql("SELECT * FROM patient_states").columns == ["patient_id"]


# ----------------------------- view version history SQL (round 13)
def test_show_view_versions_lists_history(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
        Warehouse,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    wh.create_table("t", t.schema)
    wh.insert_into("t", t)
    fe = SqlFrontend(spark, wh)
    fe.execute("CREATE VIEW hv AS SELECT k FROM t")
    fe.execute("CREATE OR REPLACE VIEW hv AS SELECT k, v FROM t")
    fe.execute("CREATE OR REPLACE VIEW hv AS SELECT v FROM t")
    rows = fe.execute("SHOW VIEW VERSIONS hv").collect()
    assert [r["version_id"] for r in rows] == [1, 2, 3]
    assert [r["is_current"] for r in rows] == [False, False, True]
    assert rows[0]["view_sql"] == "SELECT k FROM t"
    assert rows[2]["view_sql"] == "SELECT v FROM t"
    assert all(r["timestamp_ms"] > 0 for r in rows)

    # SHOW CREATE VIEW resolves each retained version's body text
    cur = fe.execute("SHOW CREATE VIEW hv").collect()[0][0]
    assert cur == "CREATE VIEW hv AS SELECT v FROM t"
    v1 = fe.execute("SHOW CREATE VIEW hv VERSION AS OF 1").collect()[0][0]
    assert v1 == "CREATE VIEW hv AS SELECT k FROM t"
    v2 = fe.execute(
        "SHOW CREATE VIEW hv FOR SYSTEM_VERSION AS OF 2"
    ).collect()[0][0]
    assert v2 == "CREATE VIEW hv AS SELECT k, v FROM t"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no version 9"):
        fe.execute("SHOW CREATE VIEW hv VERSION AS OF 9")
    # reads still resolve the CURRENT version
    assert fe.execute("SELECT * FROM hv").columns == ["v"]
