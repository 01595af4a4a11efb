"""Round-4 consumer surfaces (verdict r3 tasks 3+4): SHOW GRANTS for
the principal it describes, and user-defined CREATE VIEW over granted
tables with invoker's-rights re-securing — a view is a convenience, not
a privilege escalation channel, matching the reference's model where
all access flows through Lake Formation grants regardless of the
relation spelling (consumer_account_setup/consumer_emr_on_eks_setup
.sh:18-19, 407-418)."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (
    TEAM1,
    TEAM2,
    setup_healthcare,
)
from sample_emr_on_eks_fgac_iceberg_spark.policy import (
    SELECT,
    AccessDeniedException,
)


@pytest.fixture()
def engine(spark, tmp_path):
    eng = FgacEngine(spark, str(tmp_path / "wh"))
    setup_healthcare(eng)
    return eng


# ------------------------------------------------- consumer SHOW GRANTS
def test_consumer_show_grants_scopes_to_own(engine):
    rows = engine.session_for(TEAM1).sql("SHOW GRANTS").collect()
    assert rows, "team1 holds grants and must see them"
    assert {r.principal for r in rows} == {TEAM1}
    tables = {r.table for r in rows}
    assert {"patients", "claims"} <= tables
    filt = {r.table: r.data_cells_filter for r in rows}
    assert filt["patients"] == "patients_column_row_filter"
    assert filt["claims"] == ""


def test_consumer_show_grants_on_table(engine):
    rows = engine.session_for(TEAM2).sql("SHOW GRANTS ON claims").collect()
    assert [(r.principal, r.table) for r in rows] == [(TEAM2, "claims")]
    # team2 holds nothing on patients — empty, not an error
    assert engine.session_for(TEAM2).sql("SHOW GRANTS ON patients").count() == 0


def test_consumer_show_grants_includes_delegated(engine):
    """A grantor sees the grants it issued (LF list-permissions shows a
    principal its delegation chain), but a third party sees neither."""
    engine.policy.grant("steward", "claims", grant_option=True)
    engine.policy.grant("junior", "claims", {SELECT}, granted_by="steward")
    seen = {
        (r.principal, r.table)
        for r in engine.session_for("steward").sql("SHOW GRANTS").collect()
    }
    assert ("steward", "claims") in seen and ("junior", "claims") in seen
    other = engine.session_for(TEAM1).sql("SHOW GRANTS").collect()
    assert all(r.principal == TEAM1 for r in other)


def test_producer_show_grants_unchanged(engine):
    """The trusted producer surface still lists everything."""
    rows = engine.sql("SHOW GRANTS").collect()
    assert {r.principal for r in rows} >= {TEAM1, TEAM2}


# ------------------------------------------------------ CREATE VIEW
def test_view_over_filtered_table_serves_filtered_rows(engine):
    sess = engine.session_for(TEAM1)
    sess.sql(
        "CREATE VIEW tx_patients AS "
        "SELECT patient_id, patient_name, state FROM patients "
        "WHERE state = 'Texas'"
    )
    rows = sess.sql("SELECT * FROM tx_patients ORDER BY patient_id").collect()
    assert len(rows) == 4 and all(r.state == "Texas" for r in rows)
    # the view output is the FILTERED relation — ssn never existed in it
    assert "ssn" not in rows[0].asDict()


def test_view_is_invokers_rights_not_owners(engine):
    """team1 creates a view over patients; team2 (no patients grant)
    reading it must deny — the view re-secures under the READER."""
    engine.session_for(TEAM1).sql(
        "CREATE VIEW pview AS SELECT patient_id FROM patients"
    )
    with pytest.raises(AccessDeniedException):
        engine.session_for(TEAM2).sql("SELECT * FROM pview").collect()


def test_view_does_not_outlive_revoke(engine):
    sess = engine.session_for(TEAM1)
    sess.sql("CREATE VIEW cview AS SELECT claim_id FROM claims")
    assert sess.sql("SELECT * FROM cview").count() == 10
    engine.policy.revoke(TEAM1, "claims")
    with pytest.raises(AccessDeniedException):
        sess.sql("SELECT * FROM cview").collect()


def test_view_reflects_policy_filter_changes(engine):
    """Re-secured per read: narrowing the row filter narrows what the
    SAME view returns on the next query, no re-create needed."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import DataCellsFilter

    sess = engine.session_for(TEAM1)
    sess.sql("CREATE VIEW states AS SELECT patient_id, state FROM patients")
    assert sess.sql("SELECT * FROM states").count() == 8  # TX + NY
    engine.policy.delete_data_cells_filter("patients_column_row_filter")
    engine.policy.create_data_cells_filter(
        DataCellsFilter(
            name="patients_column_row_filter",
            table="patients",
            allowed_columns=("patient_id", "state"),
            row_filter="state = 'Texas'",
        )
    )
    assert sess.sql("SELECT * FROM states").count() == 4  # TX only


def test_view_creation_denied_on_ungranted_source(engine):
    with pytest.raises(AccessDeniedException):
        engine.session_for(TEAM2).sql(
            "CREATE VIEW leak AS SELECT * FROM patients"
        )
    assert "leak" not in engine.views


def test_view_creation_rejects_path_relation(engine):
    data_dir = engine.warehouse.data_dir("patients")
    with pytest.raises(Exception):
        engine.session_for(TEAM1).sql(
            f"CREATE VIEW leak AS SELECT * FROM parquet.`{data_dir}`"
        )
    assert "leak" not in engine.views


def test_view_name_cannot_shadow_table(engine):
    with pytest.raises(ValueError, match="collides"):
        engine.session_for(TEAM1).sql(
            "CREATE VIEW claims AS SELECT claim_id FROM claims"
        )


def test_view_over_view_and_drop(engine):
    sess = engine.session_for(TEAM1)
    sess.sql("CREATE VIEW v1 AS SELECT claim_id, amount FROM claims")
    sess.sql("CREATE VIEW v2 AS SELECT count(*) AS n FROM v1")
    assert sess.sql("SELECT * FROM v2").collect()[0].n == 10
    sess.sql("DROP VIEW v2")
    sess.sql("DROP VIEW v1")
    with pytest.raises(Exception):
        sess.sql("SELECT * FROM v1").collect()


def test_drop_view_requires_ownership(engine):
    engine.session_for(TEAM1).sql(
        "CREATE VIEW owned AS SELECT claim_id FROM claims"
    )
    with pytest.raises(AccessDeniedException):
        engine.session_for(TEAM2).sql("DROP VIEW owned")
    assert "owned" in engine.views


def test_replace_view_requires_ownership_and_flag(engine):
    s1 = engine.session_for(TEAM1)
    s1.sql("CREATE VIEW mine AS SELECT claim_id FROM claims")
    with pytest.raises(ValueError, match="already exists"):
        s1.sql("CREATE VIEW mine AS SELECT amount FROM claims")
    s1.sql("CREATE OR REPLACE VIEW mine AS SELECT amount FROM claims")
    assert engine.views["mine"]["text"].strip().startswith("SELECT amount")
    with pytest.raises(AccessDeniedException):
        engine.session_for(TEAM2).sql(
            "CREATE OR REPLACE VIEW mine AS SELECT status FROM claims"
        )


def test_dropped_view_not_served_stale_across_sessions(engine):
    """A session that already materialized the view must not keep
    serving the stale temp copy after the registry entry is gone."""
    s1 = engine.session_for(TEAM1)
    s1.sql("CREATE VIEW ephemeral AS SELECT claim_id FROM claims")
    assert s1.sql("SELECT * FROM ephemeral").count() == 10
    s1.sql("DROP VIEW ephemeral")
    with pytest.raises(Exception):
        s1.sql("SELECT * FROM ephemeral").collect()


def test_show_views_lists_registry(engine):
    s1 = engine.session_for(TEAM1)
    s1.sql("CREATE VIEW audit_v AS SELECT claim_id FROM claims")
    rows = s1.sql("SHOW VIEWS").collect()
    assert ("audit_v", TEAM1) in [(r.view_name, r.owner) for r in rows]
    # visible to other principals too (names are catalog metadata;
    # contents stay invoker-secured)
    rows2 = engine.session_for(TEAM2).sql("SHOW VIEWS").collect()
    assert "audit_v" in [r.view_name for r in rows2]


def test_view_body_must_be_a_query(engine):
    """A DML body would re-execute its side effect on every read of the
    view — rejected at creation regardless of the caller's grants."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import DESCRIBE, INSERT

    engine.sql("CREATE TABLE vb_scratch (k INT)")
    engine.policy.grant(TEAM1, "vb_scratch", {SELECT, DESCRIBE, INSERT})
    sess = engine.session_for(TEAM1)
    with pytest.raises(ValueError, match="must be a query"):
        sess.sql("CREATE VIEW evil AS INSERT INTO vb_scratch VALUES (1)")
    assert "evil" not in engine.views
    assert engine.warehouse.read_table("vb_scratch").count() == 0


# --------------------------------------- property: view/grant interplay
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OPS = ["grant_reader", "revoke_reader", "create", "drop", "read"]


@given(ops=st.lists(st.sampled_from(_OPS), min_size=1, max_size=6))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_view_grant_state_machine(engine, ops):
    """Invariant under ARBITRARY interleavings of grant/revoke/create/
    drop: a read through the view succeeds iff the view exists AND the
    reader currently holds the source grant — and a successful read
    returns exactly the policy-filtered row count. Long-lived sessions
    (owner and reader) must observe every mutation."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import DESCRIBE

    reader = "prop_reader"
    owner_sess = engine.session_for(TEAM1)
    reader_sess = engine.session_for(reader)
    engine.policy.revoke(reader, "patients")
    owner_sess.sql("DROP VIEW IF EXISTS prop_v")

    exists, granted = False, False
    for op in ops:
        if op == "grant_reader":
            engine.policy.grant(
                reader, "patients",
                filter_name="patients_column_row_filter",
            )
            granted = True
        elif op == "revoke_reader":
            engine.policy.revoke(reader, "patients")
            granted = False
        elif op == "create":
            owner_sess.sql(
                "CREATE OR REPLACE VIEW prop_v AS "
                "SELECT patient_id, state FROM patients"
            )
            exists = True
        elif op == "drop":
            owner_sess.sql("DROP VIEW IF EXISTS prop_v")
            exists = False
        else:  # read
            if exists and granted:
                n = reader_sess.sql("SELECT count(*) AS n FROM prop_v").collect()[0].n
                assert n == 8, n  # TX + NY under the policy filter
            else:
                with pytest.raises(Exception) as exc:
                    reader_sess.sql("SELECT * FROM prop_v").collect()
                if exists and not granted:
                    assert "AccessDeniedException" in str(exc.value)
    # cleanup for the next example (module-scoped engine state)
    owner_sess.sql("DROP VIEW IF EXISTS prop_v")
    engine.policy.revoke(reader, "patients")


def test_view_name_in_string_literal_not_materialized(engine):
    """A view name appearing only inside a quoted literal is data, not
    a reference — it must not trigger (or deny on) view
    materialization for a principal without the underlying grant."""
    engine.session_for(TEAM1).sql(
        "CREATE VIEW litview AS SELECT patient_id FROM patients"
    )
    # team2 has no patients grant; the literal must not make this deny
    rows = engine.session_for(TEAM2).sql(
        "SELECT 'litview' AS tag, count(*) AS n FROM claims"
    ).collect()
    assert rows[0].tag == "litview" and rows[0].n == 10


def test_orphan_grant_does_not_break_session(engine):
    """A grant whose table was dropped (orphan — Lake Formation keeps
    these too) must not break the principal's OTHER queries: the
    session skips it and the live tables keep serving."""
    engine.sql("CREATE TABLE doomed (k INT)")
    engine.policy.grant(TEAM1, "doomed")
    sess = engine.session_for(TEAM1)
    assert sess.sql("SELECT count(*) AS n FROM claims").collect()[0].n == 10
    engine.sql("DROP TABLE doomed")
    # unrelated query still works after the drop
    assert sess.sql("SELECT count(*) AS n FROM claims").collect()[0].n == 10
    # and the dropped table itself is NOT_FOUND, not a crash
    with pytest.raises(Exception):
        sess.sql("SELECT * FROM doomed").collect()


# ------------------------------------------------------ EXPLAIN surface
def test_consumer_explain_shows_secured_plan(engine):
    """EXPLAIN returns the POLICY-WRAPPED plan: the row filter is
    visible, the hidden column is not, and nothing executes."""
    plan = engine.session_for(TEAM1).sql(
        "EXPLAIN SELECT * FROM patients"
    ).collect()[0].plan
    assert "Texas" in plan and "New York" in plan  # injected row filter
    assert "ssn" not in plan  # column security prunes before the plan


def test_consumer_explain_denies_ungranted(engine):
    with pytest.raises(AccessDeniedException):
        engine.session_for(TEAM2).sql("EXPLAIN SELECT * FROM patients").collect()


def test_consumer_explain_rejects_writes_without_executing(engine):
    sess = engine.session_for(TEAM1)
    before = sess.sql("SELECT count(*) AS n FROM claims").collect()[0].n
    with pytest.raises(ValueError, match="read queries only"):
        sess.sql("EXPLAIN DELETE FROM claims WHERE amount > 0")
    after = sess.sql("SELECT count(*) AS n FROM claims").collect()[0].n
    assert before == after


def test_producer_explain_query(engine):
    plan = engine.sql("EXPLAIN SELECT state, count(*) FROM patients GROUP BY state")
    text = plan.collect()[0].plan
    assert "HashAggregate" in text or "Aggregate" in text
    with pytest.raises(ValueError, match="queries"):
        engine.sql("EXPLAIN DROP TABLE patients")


def test_consumer_explain_ddl_shapes_rejected_without_executing(engine):
    """EXPLAIN of non-query statements must neither execute them nor
    crash: CREATE VIEW / DROP VIEW are session mutations the recursive
    sql() call would have performed as a side effect."""
    sess = engine.session_for(TEAM1)
    sess.sql("CREATE VIEW ev AS SELECT patient_id FROM patients")
    with pytest.raises(ValueError, match="read queries only"):
        sess.sql("EXPLAIN DROP VIEW ev")
    # the view must still exist — EXPLAIN executed nothing
    assert sess.sql("SELECT * FROM ev").count() == 8
    with pytest.raises(ValueError, match="read queries only"):
        sess.sql("EXPLAIN CREATE VIEW ev2 AS SELECT * FROM claims")
    # the refused CREATE VIEW executed nothing — ev2 must not exist
    assert "ev2" not in {r.view_name for r in sess.sql("SHOW VIEWS").collect()}
    # CTE-prefixed DML: starts with WITH, caught by the parsed plan
    with pytest.raises(ValueError, match="read queries only"):
        sess.sql("EXPLAIN WITH x AS (SELECT * FROM claims) "
                 "INSERT INTO claims SELECT * FROM x")


def test_explain_parenthesized_query_with_space(engine):
    """`EXPLAIN ( SELECT ... )` — whitespace after the paren is a
    legitimate query spelling and must pass the shape allowlist on both
    the consumer and producer surfaces (ADVICE r4: `\\b` fails between
    '(' and a space). Self-contained: no dependency on other tests'
    session state."""
    sess = engine.session_for(TEAM1)
    plan = sess.sql(
        "EXPLAIN ( SELECT patient_id FROM patients )"
    ).collect()[0].plan
    assert "Texas" in plan
    text = engine.sql(
        "EXPLAIN ( SELECT state FROM patients )"
    ).collect()[0].plan
    assert "state" in text
    # no-space parenthesized spelling also accepted
    plan = sess.sql("EXPLAIN (SELECT COUNT(*) AS n FROM claims)").collect()
    assert len(plan) == 1


def test_producer_explain_cte_dml_rejected_without_executing(engine):
    before = engine.sql("SELECT COUNT(*) AS n FROM claims").collect()[0].n
    with pytest.raises(ValueError, match="queries"):
        engine.sql(
            "EXPLAIN WITH x AS (SELECT * FROM claims) "
            "INSERT INTO claims SELECT * FROM x"
        )
    after = engine.sql("SELECT COUNT(*) AS n FROM claims").collect()[0].n
    assert before == after
    plan = engine.sql("EXPLAIN (SELECT 1 AS one)").collect()
    assert len(plan) == 1


def test_view_resecured_once_per_sugared_read(engine, monkeypatch):
    """A read that needs a sugar rewrite (QUALIFY) re-secures each view
    it references once, not once per rewrite pass."""
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import StatementScope

    body = "SELECT claim_id, amount FROM claims"
    sess = engine.session_for(TEAM1)
    sess.sql(f"CREATE VIEW once_v AS {body}")
    seen = []
    real = StatementScope._resolve
    monkeypatch.setattr(
        StatementScope, "_resolve", lambda self, q, *a, **kw: seen.append(q) or real(self, q, *a, **kw)
    )
    rows = sess.sql(
        "SELECT claim_id FROM once_v "
        "QUALIFY row_number() OVER (ORDER BY amount DESC) <= 2"
    ).collect()
    assert len(rows) == 2
    assert seen.count(body) == 1
