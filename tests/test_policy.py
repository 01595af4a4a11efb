"""Golden FGAC tests — the reference's three E2E scenarios (SURVEY.md §5,
FIXTURES.md §A.4) against engine-managed tables."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (
    FLAGSHIP_JOIN_SQL,
    TEAM1,
    TEAM2,
    setup_healthcare,
)
from sample_emr_on_eks_fgac_iceberg_spark.policy import AccessDeniedException


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("warehouse")))
    setup_healthcare(eng)
    return eng


def test_team1_filtered_patients_scan(engine):
    # consumer_emr_on_eks_setup.sh:407-410 → 8 rows × 8 cols, no ssn
    sess = engine.session_for(TEAM1)
    df = sess.sql("SELECT * FROM patients")
    rows = df.collect()
    assert len(rows) == 8
    assert "ssn" not in df.columns
    assert len(df.columns) == 8
    assert {r.state for r in rows} == {"Texas", "New York"}
    assert {r.patient_id for r in rows} == set(range(1005, 1013))


def test_team1_flagship_join(engine):
    # consumer_emr_on_eks_setup.sh:412-414 → 6 rows CLM005-CLM010,
    # ordered by (state, claim_date)
    sess = engine.session_for(TEAM1)
    rows = sess.sql(FLAGSHIP_JOIN_SQL).collect()
    assert [r.claim_id for r in rows] == [
        "CLM010", "CLM009", "CLM007", "CLM008", "CLM005", "CLM006",
    ]
    assert [r.state for r in rows] == ["New York"] * 2 + ["Texas"] * 4
    assert rows[0].patient_name == "fgac10 Amanda"
    assert float(rows[0].amount) == 180.00


def test_team2_claims_full_scan(engine):
    # consumer_emr_on_eks_setup.sh:478-479 → all 10 rows, 10 cols
    sess = engine.session_for(TEAM2)
    df = sess.sql("SELECT * FROM claims")
    assert df.count() == 10
    assert len(df.columns) == 10


def test_team2_patients_denied(engine):
    # consumer_emr_on_eks_setup.sh:480-488 → AccessDeniedException at
    # plan time, message contains the literal substring the reference
    # job greps for.
    sess = engine.session_for(TEAM2)
    with pytest.raises(AccessDeniedException) as exc:
        sess.sql("SELECT * FROM patients")
    assert "AccessDeniedException" in str(exc.value)
    with pytest.raises(AccessDeniedException):
        sess.table("patients")


def test_describe_hides_masked_column(engine):
    sess = engine.session_for(TEAM1)
    cols = [c for c, _ in sess.describe("patients")]
    assert "ssn" not in cols and "state" in cols


def test_revoke_then_denied(engine):
    engine.policy.grant("temp_analyst", "claims")
    sess = engine.session_for("temp_analyst")
    assert sess.table("claims").count() == 10
    engine.policy.revoke("temp_analyst", "claims")
    sess2 = engine.session_for("temp_analyst")
    with pytest.raises(AccessDeniedException):
        sess2.table("claims")


def test_row_filter_pushed_to_scan(engine):
    """The injected row filter must reach the parquet scan (the FGAC
    threat model: unfiltered rows never surface). Check PushedFilters
    in the physical plan."""
    from sample_emr_on_eks_fgac_iceberg_spark.plans import pushed_filters

    sess = engine.session_for(TEAM1)
    filters = pushed_filters(sess.sql("SELECT patient_id FROM patients"))
    assert any("state" in f for f in filters)  # In(state, …) reached the scan


def test_partition_layout_identity(engine, spark):
    import os

    data = engine.warehouse.data_dir("patients")
    parts = {d for d in os.listdir(data) if d.startswith("city=")}
    assert "city=Dallas" in parts and len(parts) == 12
    claims_parts = {d for d in os.listdir(engine.warehouse.data_dir("claims"))
                    if d.startswith("status=")}
    assert claims_parts == {"status=Approved", "status=Pending", "status=Denied"}


def test_resource_link_scan_filtered(engine):
    """M2: the consumer-side resource link resolves to the producer
    table with the link-bound FGAC filter applied — the reference's
    actual query shape (SELECT * FROM dev.….rl_patients,
    consumer_emr_on_eks_setup.sh:407)."""
    sess = engine.session_for("team1")
    df = sess.sql("SELECT * FROM rl_patients")
    assert df.count() == 8
    assert "ssn" not in df.columns


def test_resource_link_join_matches_direct(engine):
    sess = engine.session_for("team1")
    via_link = sess.sql(
        """SELECT c.claim_id FROM rl_claims c
           JOIN rl_patients p ON c.patient_id = p.patient_id
           ORDER BY c.claim_id"""
    ).collect()
    direct = sess.sql(
        """SELECT c.claim_id FROM claims c
           JOIN patients p ON c.patient_id = p.patient_id
           ORDER BY c.claim_id"""
    ).collect()
    assert via_link == direct and len(via_link) == 6


def test_resource_link_denied_for_team2(engine):
    import pytest as _pytest

    from sample_emr_on_eks_fgac_iceberg_spark.policy import AccessDeniedException

    sess = engine.session_for("team2")
    with _pytest.raises(AccessDeniedException, match="AccessDeniedException"):
        sess.sql("SELECT * FROM rl_patients").count()


def test_drop_table_removes_data_and_meta(engine, spark, tmp_path):
    """M1: DROP TABLE removes files + metadata; re-create works."""
    from pyspark.sql import types as T

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
        TableNotFoundError,
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t_tmp", "a int, b string", partition_by=["b"])
    wh.insert_values("t_tmp", [(1, "x"), (2, "y")])
    assert wh.read_table("t_tmp").count() == 2
    wh.drop_table("t_tmp")
    assert not wh.table_exists("t_tmp")
    try:
        wh.read_table("t_tmp")
        raise AssertionError("expected TableNotFoundError")
    except TableNotFoundError:
        pass
    wh.create_table("t_tmp", "a int", partition_by=[])
    assert wh.read_table("t_tmp").count() == 0


@pytest.mark.parametrize(
    "clause",
    ["VERSION AS OF 999", "VERSION AS OF 'nobranch'", "TIMESTAMP AS OF '2000-01-01'"],
)
def test_time_travel_denies_before_loading(engine, clause):
    """An ungranted principal's time-travel read is denied before the
    snapshot is resolved, so an unknown snapshot id, ref or timestamp
    tells it nothing about the table's history: one denial, one audit
    entry."""
    sess = engine.session_for(TEAM2)
    start = len(engine.policy.audit_log)
    with pytest.raises(AccessDeniedException):
        sess.sql(f"SELECT * FROM patients {clause}")
    assert engine.policy.audit_log[start:] == [(TEAM2, "patients", "SELECT", "denied")]


def test_stream_and_describe_deny_ungranted_and_dangling(spark, tmp_path):
    """readStream and describe go through the same fence: an ungranted
    table denies with an audit entry, and a grant whose filter was
    deleted denies after it."""
    eng = FgacEngine(spark, str(tmp_path / "wh"))
    setup_healthcare(eng)
    team2, team1 = eng.session_for(TEAM2), eng.session_for(TEAM1)
    for call, action in ((team2.readStream, "SELECT"), (team2.describe, "DESCRIBE")):
        start = len(eng.policy.audit_log)
        with pytest.raises(AccessDeniedException):
            call("patients")
        assert eng.policy.audit_log[start:] == [(TEAM2, "patients", action, "denied")]
    eng.policy.delete_data_cells_filter(
        eng.policy.grant_for(TEAM1, "patients").filter_name
    )
    for call in (team1.readStream, team1.describe):
        with pytest.raises(AccessDeniedException):
            call("patients")
