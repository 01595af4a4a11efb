"""The read-time rewrite both SQL surfaces share
(sql_frontend.rewrite_table_refs, rewrite_sugar): table references —
time travel, metadata tables, system.audit_log, catalog-qualified names
— are rewritten outside string literals only, timestamp literals decode
in the session time zone, and a MERGE source from another SparkSession
of the context is re-homed instead of hanging the write."""

import threading
import time
from datetime import datetime, timezone

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (
    QUALIFIED_RL_PATIENTS,
    TEAM1,
    TEAM2,
    setup_healthcare,
)
from sample_emr_on_eks_fgac_iceberg_spark.policy import AccessDeniedException
from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("warehouse")))
    setup_healthcare(eng)
    return eng


# Each literal spells a table reference one of the rewrites matches;
# as data it must come back exactly as written. The timestamp form holds
# its own quotes, so it is a double-quoted literal (Spark SQL's default).
LITERALS = {
    "version": ("'claims VERSION AS OF 1'", "claims VERSION AS OF 1"),
    "timestamp": (
        "\"claims TIMESTAMP AS OF '2026-01-01 00:00:00'\"",
        "claims TIMESTAMP AS OF '2026-01-01 00:00:00'",
    ),
    "metadata": ("'claims.snapshots'", "claims.snapshots"),
    "qualified": (f"'{QUALIFIED_RL_PATIENTS}'", QUALIFIED_RL_PATIENTS),
    "audit": ("'system.audit_log'", "system.audit_log"),
}


def _literal_of(run, spelled: str) -> str:
    return run(f"SELECT {spelled} AS s FROM claims LIMIT 1").collect()[0]["s"]


@pytest.mark.parametrize("kind", sorted(LITERALS))
def test_producer_literal_is_data(engine, kind):
    spelled, value = LITERALS[kind]
    assert _literal_of(engine.sql, spelled) == value


@pytest.mark.parametrize("kind", sorted(LITERALS))
@pytest.mark.parametrize("principal", [TEAM1, TEAM2])
def test_consumer_literal_is_data(engine, principal, kind):
    spelled, value = LITERALS[kind]
    assert _literal_of(engine.session_for(principal).sql, spelled) == value


@pytest.mark.parametrize(
    "spelled",
    ["'patients VERSION AS OF 1'", "'patients.snapshots'", f"'{QUALIFIED_RL_PATIENTS}'"],
)
def test_literal_naming_an_ungranted_table_is_not_denied(engine, spelled):
    before = len(engine.policy.audit_log)
    got = _literal_of(engine.session_for(TEAM2).sql, spelled)
    assert got == spelled.strip("'")
    assert not [e for e in engine.policy.audit_log[before:] if e[3] == "denied"]


def test_real_reference_beside_a_literal_is_rewritten(engine):
    first = engine.warehouse.snapshots("claims")[0]["snapshot_id"]
    n_first = engine.sql(f"SELECT count(*) FROM claims VERSION AS OF {first}").collect()[0][0]
    for run in (engine.sql, engine.session_for(TEAM1).sql):
        row = run(
            f"SELECT 'claims VERSION AS OF {first}' AS s, count(*) AS n "
            f"FROM claims VERSION AS OF {first}"
        ).collect()[0]
        assert (row["s"], row["n"]) == (f"claims VERSION AS OF {first}", n_first)
        row = run("SELECT 'claims.snapshots' AS s, count(*) AS n FROM claims.snapshots").collect()[0]
        assert row["s"] == "claims.snapshots" and row["n"] >= 1
    row = engine.session_for(TEAM1).sql(
        f"SELECT '{QUALIFIED_RL_PATIENTS}' AS s, count(*) AS n FROM {QUALIFIED_RL_PATIENTS}"
    ).collect()[0]
    assert (row["s"], row["n"]) == (QUALIFIED_RL_PATIENTS, 8)  # team1's row filter
    row = engine.sql(
        "SELECT 'system.audit_log' AS s, count(*) AS n FROM system.audit_log"
    ).collect()[0]
    assert row["s"] == "system.audit_log" and row["n"] >= 1


@pytest.mark.parametrize(
    "query, resource",
    [
        ("SELECT 'patients' AS s FROM patients", "patients"),
        ("SELECT 'claims' AS s FROM patients VERSION AS OF 1", "patients"),
        (f"SELECT 'claims' AS s FROM {QUALIFIED_RL_PATIENTS}", QUALIFIED_RL_PATIENTS),
    ],
)
def test_real_ungranted_reference_beside_a_literal_denies_once(engine, query, resource):
    sess = engine.session_for(TEAM2)
    before = len(engine.policy.audit_log)
    with pytest.raises(AccessDeniedException):
        sess.sql(query).collect()
    denied = [e for e in engine.policy.audit_log[before:] if e[3] == "denied"]
    assert denied == [(TEAM2, resource, "SELECT", "denied")]


# ------------------------------------------- session time zone decode
@pytest.fixture
def tokyo_clock(monkeypatch):
    """The Python process runs 9 h ahead of the session's UTC."""
    monkeypatch.setenv("TZ", "Asia/Tokyo")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_timestamp_as_of_reads_the_session_time_zone(spark, tmp_path, tokyo_clock):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    eng = FgacEngine(spark, str(tmp_path))
    eng.sql("CREATE TABLE tz_t (k INT)")
    eng.sql("INSERT INTO tz_t VALUES (1)")
    eng.sql("INSERT INTO tz_t VALUES (2)")
    first, second = (s["timestamp_ms"] for s in eng.warehouse.snapshots("tz_t"))
    assert second > first
    lit = datetime.fromtimestamp(first / 1000, timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")
    eng.policy.grant(TEAM1, "tz_t")
    query = f"SELECT k FROM tz_t TIMESTAMP AS OF '{lit}'"
    for run in (eng.sql, eng.session_for(TEAM1).sql):
        assert [r["k"] for r in run(query).collect()] == [1]


# ------------------------------------------ MERGE from another session
@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_source_from_another_session(spark, tmp_path, mode):
    wh = Warehouse(spark, str(tmp_path))
    wh.create_table("m", "k int, v string", properties={"write.merge.mode": mode})
    wh.insert_values("m", [(1, "a"), (2, "b")])
    src = spark.newSession().createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    outcome = {}

    def merge():
        try:
            outcome["stats"] = wh.merge_into("m", src, "t.k = s.k", matched_update={"v": "s.v"})
        except BaseException as exc:  # surfaced by the assertion below
            outcome["error"] = exc

    worker = threading.Thread(target=merge, daemon=True)
    worker.start()
    worker.join(timeout=180)
    assert not worker.is_alive(), "MERGE from another session's source did not finish"
    assert "error" not in outcome, outcome.get("error")
    rows = sorted(tuple(r) for r in wh.read_table("m").collect())
    assert rows == [(1, "a"), (2, "B"), (3, "c")]


# --------------------------------- what the producer plans and reads
@pytest.fixture
def read_table_calls(monkeypatch):
    """The table names every Warehouse.read_table call is given."""
    calls, read = [], Warehouse.read_table

    def spy(self, name, *args, **kwargs):
        calls.append(name)
        return read(self, name, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "read_table", spy)
    return calls


@pytest.mark.parametrize("surface", ["producer", TEAM1])
@pytest.mark.parametrize(
    "query",
    [
        "SELECT count(*) FROM claims VERSION AS OF {first}",
        "SELECT 'patients, rl_patients, rl_claims' AS s FROM claims",
        # a CTE named like a table is no source; inside its own body
        # the name is the table
        "WITH patients AS (SELECT * FROM claims) SELECT count(*) FROM patients",
        "WITH claims AS (SELECT * FROM claims WHERE amount > 0) SELECT count(*) FROM claims",
    ],
)
def test_producer_reads_only_the_tables_the_statement_reads(engine, read_table_calls, query, surface):
    # a fresh SecureSession loads no table before a statement names it
    first = engine.warehouse.snapshots("claims")[0]["snapshot_id"]
    run = engine.sql if surface == "producer" else engine.session_for(surface).sql
    run(query.format(first=first)).collect()
    assert read_table_calls == ["claims"]


def test_timestamp_before_the_first_snapshot_raises_on_both_surfaces(engine):
    """Iceberg refuses a TIMESTAMP AS OF older than the table's first
    snapshot; an empty frame would read a mistyped year as 0 rows."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import SnapshotNotFoundError

    query = "SELECT count(*) FROM claims TIMESTAMP AS OF '2000-01-01 00:00:00'"
    for run in (engine.sql, engine.session_for(TEAM1).sql):
        with pytest.raises(SnapshotNotFoundError, match="older than 2000-01-01 00:00:00"):
            run(query).collect()


def test_hint_on_a_qualified_name_still_broadcasts(engine, spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")  # only the hint can plan a broadcast
    try:
        query = (
            f"SELECT /*+ BROADCAST({QUALIFIED_RL_PATIENTS}) */ count(*) AS n "
            f"FROM claims JOIN {QUALIFIED_RL_PATIENTS} USING (patient_id)"
        )
        for run, n in ((engine.sql, 10), (engine.session_for(TEAM1).sql, 6)):
            df = run(query)
            assert df.collect()[0]["n"] == n
            assert "BroadcastHashJoin" in df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, saved)


def test_dml_literal_spelling_a_subquery_reads_no_table(engine, read_table_calls):
    # a literal that spells a subquery is data: the DELETE registers no
    # warehouse table for its predicate (both match no row)
    engine.sql("DELETE FROM claims WHERE status = 'x'")
    plain = list(read_table_calls)
    read_table_calls.clear()
    engine.sql("DELETE FROM claims WHERE status = '(SELECT x)'")
    assert read_table_calls == plain
