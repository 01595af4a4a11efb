"""Adversarial FGAC battery — the attack vectors a hostile consumer
would try, kept as regression tests (each class of these found a real
hole in some earlier round: the glob-path DML source, the textual
known-tables scan, the trusted-frontend delegation)."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import TEAM1, TEAM2, setup_healthcare
from sample_emr_on_eks_fgac_iceberg_spark.policy import (
    INSERT,
    SELECT,
    AccessDeniedException,
)


@pytest.fixture()
def rig(spark, tmp_path):
    wh_dir = str(tmp_path / "wh")
    eng = FgacEngine(spark, wh_dir)
    setup_healthcare(eng)
    eng.sql("CREATE TABLE scratch (x STRING)")
    eng.policy.grant("mallory", "scratch", {SELECT, INSERT})
    return eng, eng.session_for("mallory"), wh_dir


DENIED_STATEMENTS = [
    pytest.param(
        "WITH x AS (SELECT patient_name FROM patients) "
        "INSERT INTO scratch SELECT * FROM x",
        id="cte-smuggled-insert",
    ),
    pytest.param(
        "INSERT INTO scratch VALUES ((SELECT ssn FROM patients LIMIT 1))",
        id="values-scalar-subquery",
    ),
    pytest.param(
        "MERGE INTO scratch USING (SELECT patient_name AS x FROM patients) s "
        "ON scratch.x = s.x WHEN NOT MATCHED THEN INSERT *",
        id="merge-using-ungranted",
    ),
    pytest.param("SELECT * FROM patients VERSION AS OF 1", id="time-travel"),
    pytest.param("SELECT * FROM patients.snapshots", id="metadata-table"),
    pytest.param("EXPLAIN SELECT * FROM patients", id="explain-ungranted"),
    pytest.param(
        "CREATE VIEW mv AS SELECT * FROM patients", id="view-over-ungranted"
    ),
    pytest.param(
        "INSERT OVERWRITE scratch SELECT patient_name FROM patients",
        id="overwrite-from-ungranted",
    ),
    pytest.param(
        "INSERT INTO scratch SELECT x FROM scratch "
        "UNION ALL SELECT patient_name FROM patients",
        id="union-smuggle",
    ),
    pytest.param(
        "INSERT/**/INTO scratch SELECT patient_name FROM patients",
        id="comment-obfuscated-keyword",
    ),
    pytest.param(
        "INSERT INTO scratch SELECT patient_name FROM `patients`",
        id="backtick-quoted-table",
    ),
    pytest.param(
        "INSERT INTO scratch SELECT * EXCLUDE (ssn) FROM patients",
        id="sugared-insert-from-ungranted",
    ),
    pytest.param(
        "FROM patients INSERT INTO scratch SELECT patient_name "
        "INSERT INTO scratch SELECT ssn",
        id="multi-insert",
    ),
]


@pytest.mark.parametrize("stmt", DENIED_STATEMENTS)
def test_exfiltration_vector_denied(rig, stmt):
    eng, mallory, wh_dir = rig
    with pytest.raises(AccessDeniedException):
        r = mallory.sql(stmt)
        if r is not None:
            r.collect()
    # nothing leaked into the scratch table either
    assert mallory.sql("SELECT * FROM scratch").count() == 0


def test_glob_path_source_denied(rig):
    eng, mallory, wh_dir = rig
    with pytest.raises(AccessDeniedException):
        mallory.sql(
            f"INSERT INTO scratch SELECT patient_name FROM parquet.`{wh_dir}/patient*/data`"
        )


def test_audit_log_not_reachable_from_consumer(rig):
    eng, mallory, _ = rig
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        mallory.sql("SELECT * FROM system.audit_log").collect()


def test_legitimate_scratch_use_still_works(rig):
    eng, mallory, _ = rig
    mallory.sql("INSERT INTO scratch VALUES ('x')")
    assert mallory.sql("SELECT * FROM scratch").count() == 1
    assert mallory.sql("EXPLAIN SELECT * FROM scratch").count() == 1


def test_another_principals_view_is_invokers_rights(rig):
    """A view team1 created over patients must deny mallory (invoker's
    rights: the READER's grants decide), not serve team1's rows."""
    eng, mallory, _ = rig
    eng.session_for(TEAM1).sql("CREATE VIEW tv AS SELECT patient_id FROM patients")
    with pytest.raises(AccessDeniedException):
        mallory.sql("SELECT * FROM tv").collect()


# Statement classes outside the consumer allowlist, executing nodes
# below a read-looking root, and comment-prefixed spellings of admitted
# ones: each is denied on its parsed plan and leaves exactly one
# `denied` audit record. `{patients_file}` is a data file of the
# ungranted patients table; nothing may appear under `{out}`.
STATEMENT_CLASS_PROBES = [
    pytest.param(
        "CREATE TEMPORARY VIEW v USING parquet OPTIONS (path '{patients_file}')",
        "SELECT * FROM v",
        id="temp-view-using-parquet",
    ),
    pytest.param(
        "SET spark.sql.runSQLOnFiles=true",
        "SELECT * FROM parquet.`{patients_file}`",
        id="set-run-sql-on-files",
    ),
    pytest.param(
        "/* c */ CREATE TABLE probe_ctas AS SELECT * FROM claims",
        "SELECT * FROM probe_ctas",
        id="comment-prefixed-ctas",
    ),
    pytest.param("-- c\nDROP TABLE claims", None, id="comment-prefixed-drop"),
    pytest.param(
        "/* c */ CALL system.expire_snapshots(table => 'claims')",
        None,
        id="comment-prefixed-call",
    ),
    pytest.param(
        "FROM claims INSERT OVERWRITE DIRECTORY '{out}/x' USING parquet SELECT * "
        "INSERT OVERWRITE DIRECTORY '{out}/y' USING parquet SELECT *",
        None,
        id="multi-insert-directory",
    ),
    pytest.param(
        "EXECUTE IMMEDIATE 'SET spark.sql.runSQLOnFiles=true'",
        "SELECT * FROM parquet.`{patients_file}`",
        id="execute-immediate-set",
    ),
    pytest.param(
        "EXECUTE IMMEDIATE 'CREATE TEMPORARY VIEW v USING parquet "
        "OPTIONS (path \\'{patients_file}\\')'",
        "SELECT * FROM v",
        id="execute-immediate-temp-view",
    ),
]


@pytest.mark.parametrize("stmt,follow_up", STATEMENT_CLASS_PROBES)
def test_statement_class_denied_with_one_audit_entry(rig, spark, tmp_path, stmt, follow_up):
    import glob

    eng, _, wh_dir = rig
    fmt = {
        "patients_file": glob.glob(f"{wh_dir}/patients/data/**/*.parquet", recursive=True)[0],
        "out": str(tmp_path / "out"),
    }
    team2 = eng.session_for(TEAM2)
    before = len(eng.policy.audit_log)
    with pytest.raises(AccessDeniedException):
        team2.sql(stmt.format(**fmt))
    denied = [e for e in eng.policy.audit_log[before:] if e[0] == TEAM2 and e[3] == "denied"]
    assert len(denied) == 1
    # the statement changed nothing: no patients row is reachable, the
    # session's own policy view survives, the shared catalog gains no table
    if follow_up is not None:
        with pytest.raises(Exception):
            team2.sql(follow_up.format(**fmt)).collect()
    assert not (tmp_path / "out").exists()
    assert team2.sql("SELECT count(*) AS n FROM claims").collect()[0].n == 10
    assert "probe_ctas" not in {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize(
    "mutated,canonical",
    [
        ("/* c */ SHOW TABLES", "SHOW TABLES"),
        ("-- c\nSHOW TABLES", "SHOW TABLES"),
        ("/* c */ SHOW GRANTS", "SHOW GRANTS"),
        ("SHOW /* c */ GRANTS ON claims", "SHOW GRANTS ON claims"),
    ],
)
def test_commented_discovery_matches_canonical(rig, mutated, canonical):
    eng, _, _ = rig
    eng.policy.grant_database(TEAM2, "default")
    team2 = eng.session_for(TEAM2)
    want = sorted(tuple(r) for r in team2.sql(canonical).collect())
    assert want  # the canonical listing is not trivially empty
    assert sorted(tuple(r) for r in team2.sql(mutated).collect()) == want


@pytest.mark.parametrize(
    "stmt",
    [
        "/* c */ INSERT INTO scratch VALUES ('b')",
        "-- c\nINSERT /* c */ INTO scratch VALUES ('b')",
    ],
)
def test_write_granted_insert_spellings_execute_alike(rig, stmt):
    """A commented INSERT runs exactly like the plain spelling."""
    eng, mallory, _ = rig
    mallory.sql(stmt)
    mallory.sql("INSERT INTO scratch VALUES ('b')")
    assert [tuple(r) for r in mallory.sql("SELECT * FROM scratch").collect()] == [("b",)] * 2


@pytest.mark.parametrize(
    "stmt,want",
    [
        ("INSERT INTO scratch SELECT * EXCLUDE (k) FROM (SELECT 'e' AS x, 1 AS k)", "e"),
        (
            "INSERT INTO scratch SELECT x FROM (SELECT 'q' AS x, 1 AS k UNION ALL "
            "SELECT 'r', 2) QUALIFY row_number() OVER (ORDER BY k) = 1",
            "q",
        ),
    ],
)
def test_write_granted_sugared_insert_executes(rig, stmt, want):
    """SQL sugar Spark cannot parse still classifies as the write it is
    and is delegated, not refused as a non-read."""
    eng, mallory, _ = rig
    mallory.sql(stmt)
    assert [tuple(r) for r in mallory.sql("SELECT * FROM scratch").collect()] == [(want,)]
