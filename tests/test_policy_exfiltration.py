"""Adversarial write-path FGAC: the round-3 verdict's confirmed bypass
and its family. A principal holding only SELECT+INSERT on their own
scratch table must not be able to read any other table through a DML
source clause — not by name, not by file path, not by glob, not by a
foreign temp view. The reference's threat model (user code never
touches storage; the query-engine role does — consumer_account_setup/
consumer_emr_on_eks_setup.sh:18-19) makes every one of these a
plan-time AccessDeniedException.

Defense layers under test:
1. SecureSession._authorize_write_sources — plan-based relation
   authorization (Spark's own parser; an identifier that is no known
   table, a path relation among them, denies with one audit entry).
2. SqlFrontend sessions run with spark.sql.runSQLOnFiles=false, so a
   path relation that somehow reached the trusted side cannot resolve.
"""

import pytest
from pyspark.sql import SparkSession

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.policy import (
    DESCRIBE,
    INSERT,
    SELECT,
    AccessDeniedException,
)


@pytest.fixture()
def engine(spark, tmp_path):
    e = FgacEngine(spark, str(tmp_path / "wh"))
    # victim table: same shape the verdict's probe used (SSNs)
    e.sql("CREATE TABLE secrets (id INT, ssn STRING)")
    e.sql("INSERT INTO secrets VALUES (1, '123-45-6789'), (2, '987-65-4321')")
    # attacker-owned scratch table, schema-compatible with the victim
    e.sql("CREATE TABLE scratch (id INT, ssn STRING)")
    e.policy.grant("mallory", "scratch", {SELECT, DESCRIBE, INSERT})
    return e


def _scratch_rows(engine):
    return [tuple(r) for r in engine.warehouse.read_table("scratch").collect()]


def test_verdict_probe_glob_path_insert_denied(engine):
    """The exact round-3 probe: glob path as INSERT source."""
    sess = engine.session_for("mallory")
    data_dir = engine.warehouse.data_dir("secrets")
    glob = data_dir.replace("secrets", "secre*")
    with pytest.raises(AccessDeniedException):
        sess.sql(f"INSERT INTO scratch SELECT * FROM parquet.`{glob}`")
    assert _scratch_rows(engine) == []


def test_direct_path_insert_denied(engine):
    sess = engine.session_for("mallory")
    data_dir = engine.warehouse.data_dir("secrets")
    with pytest.raises(AccessDeniedException):
        sess.sql(f"INSERT INTO scratch SELECT * FROM parquet.`{data_dir}`")
    assert _scratch_rows(engine) == []


@pytest.mark.parametrize("fmt", ["csv", "json", "text", "orc", "binaryFile"])
def test_other_format_spellings_denied(engine, fmt):
    sess = engine.session_for("mallory")
    data_dir = engine.warehouse.data_dir("secrets")
    with pytest.raises(AccessDeniedException):
        sess.sql(f"INSERT INTO scratch SELECT * FROM {fmt}.`{data_dir}`")


def test_whitespace_dodge_denied(engine):
    """`parquet . `path`` with creative spacing parses identically."""
    sess = engine.session_for("mallory")
    data_dir = engine.warehouse.data_dir("secrets")
    with pytest.raises(AccessDeniedException):
        sess.sql(f"INSERT INTO scratch SELECT * FROM parquet .\n`{data_dir}`")


def test_merge_using_path_denied(engine):
    sess = engine.session_for("mallory")
    engine.policy.grant(
        "mallory", "scratch", {SELECT, DESCRIBE, INSERT, "DELETE"}
    )
    data_dir = engine.warehouse.data_dir("secrets")
    with pytest.raises(AccessDeniedException):
        sess.sql(
            f"MERGE INTO scratch t USING (SELECT * FROM parquet.`{data_dir}`) s "
            "ON t.id = s.id WHEN NOT MATCHED THEN INSERT (id, ssn) "
            "VALUES (s.id, s.ssn)"
        )


def test_insert_overwrite_from_path_denied(engine):
    sess = engine.session_for("mallory")
    engine.policy.grant(
        "mallory", "scratch", {SELECT, DESCRIBE, INSERT, "DELETE"}
    )
    data_dir = engine.warehouse.data_dir("secrets")
    with pytest.raises(AccessDeniedException):
        sess.sql(f"INSERT OVERWRITE scratch SELECT * FROM parquet.`{data_dir}`")


def test_quoted_identifier_source_requires_grant(engine):
    """Backtick-quoting the victim table name is still the victim
    table — the parsed plan sees through the spelling."""
    sess = engine.session_for("mallory")
    with pytest.raises(AccessDeniedException):
        sess.sql("INSERT INTO scratch SELECT * FROM `secrets`")
    assert _scratch_rows(engine) == []


def test_foreign_temp_view_reference_denied(engine):
    """An identifier that is not a known warehouse table fails closed —
    including views the trusted frontend registered for its own use."""
    sess = engine.session_for("mallory")
    with pytest.raises(AccessDeniedException):
        sess.sql("INSERT INTO scratch SELECT * FROM __wh_secrets")


def test_values_union_tail_denied(engine):
    """VALUES tails are parsed as queries on the trusted side, so a
    UNION smuggled into one is a source clause like any other."""
    sess = engine.session_for("mallory")
    with pytest.raises(AccessDeniedException):
        sess.sql(
            "INSERT INTO scratch VALUES (0, 'x') "
            "UNION ALL SELECT id, ssn FROM secrets"
        )


def test_subquery_in_source_denied(engine):
    """Subqueries nested anywhere in the statement are authorized too."""
    sess = engine.session_for("mallory")
    with pytest.raises(AccessDeniedException):
        sess.sql(
            "INSERT INTO scratch SELECT id, "
            "(SELECT max(ssn) FROM secrets) AS ssn FROM scratch"
        )


def test_granted_source_still_works(engine):
    """The guard denies exfiltration, not legitimate DML: with SELECT
    on the source, the same statement executes."""
    engine.policy.grant("mallory", "secrets", {SELECT})
    sess = engine.session_for("mallory")
    sess.sql("INSERT INTO scratch SELECT * FROM secrets")
    assert sorted(_scratch_rows(engine)) == [
        (1, "123-45-6789"),
        (2, "987-65-4321"),
    ]


def test_frontend_sessions_refuse_sql_on_files(engine):
    """Layer 3: even the trusted frontend's sessions have SQL-on-files
    off — a path relation cannot resolve there at all."""
    from pyspark.sql.utils import AnalysisException

    engine.sql("SHOW TABLES")  # force frontend construction
    data_dir = engine.warehouse.data_dir("secrets")
    with pytest.raises(AnalysisException):
        engine.sql(f"SELECT * FROM parquet.`{data_dir}`").collect()
    assert (
        engine._sql_frontend.spark.conf.get("spark.sql.runSQLOnFiles") == "false"
    )


def test_no_file_relation_in_delegated_plan(engine):
    """Plan-shape regression guard (verdict task 6): the analyzed plan
    of a legitimately delegated DML source must contain only the
    engine's registered warehouse views — no file relation resolved
    from statement text. Asserted on the frontend's own scratch
    session: a path relation raises instead of resolving to a scan."""
    engine.sql("SHOW TABLES")
    frontend = engine._sql_frontend
    data_dir = engine.warehouse.data_dir("secrets")
    with pytest.raises(Exception, match="not allowed|NOT_ALLOWED|not found|TABLE_OR_VIEW"):
        frontend._query(f"SELECT * FROM parquet.`{data_dir}`")
    # and a table-name source resolves through the registered view, not
    # a path relation parsed out of statement text
    df = frontend._query("SELECT * FROM secrets")
    plan = df._jdf.queryExecution().analyzed().toString().lower()
    assert "unresolvedrelation" not in plan and "parquet.`" not in plan


@pytest.mark.parametrize(
    "stmt",
    [
        "FROM secrets INSERT INTO scratch SELECT *",
        "WITH c AS (SELECT id, ssn FROM secrets) INSERT INTO scratch SELECT * FROM c",
        # CTE body reads secrets through a nested subquery
        "WITH c AS (SELECT 1 AS id, (SELECT first(ssn) FROM secrets) AS ssn) "
        "INSERT INTO scratch SELECT * FROM c",
        # CTE named after the victim table: Spark resolves the body's
        # self-reference against the OUTER scope (the real table), so
        # the shadowing name requires the grant — fail closed
        "WITH secrets AS (SELECT id, ssn FROM secrets) "
        "INSERT INTO scratch SELECT * FROM secrets",
        # the identifier clause names its relation only at analysis
        "INSERT INTO scratch SELECT * FROM IDENTIFIER('secrets')",
    ],
)
def test_write_spellings_that_dodge_shape_regexes_denied(engine, stmt):
    """Round-4 hardening, narrowed in round 5: `WITH … INSERT` is now a
    SUPPORTED write for a write-granted principal, so the denial must
    come from source authorization (every relation in the parsed plan,
    including CTE bodies and their subqueries, needs unfiltered
    SELECT), not from a blanket plan-class refusal. Hive-style
    FROM…INSERT remains denied on the plan class."""
    sess = engine.session_for("mallory")
    with pytest.raises(AccessDeniedException):
        sess.sql(stmt)
    assert _scratch_rows(engine) == []


def test_cte_insert_without_table_reads_is_a_legitimate_write(engine):
    """The flip side of the denial cases above: a CTE-prefixed INSERT
    whose plan references no ungranted relation executes for a
    principal holding INSERT on the target — the round-4 blanket
    refusal is gone, the round-3 exfiltration guarantees stay."""
    sess = engine.session_for("mallory")
    sess.sql(
        "WITH c AS (SELECT 7 AS id, 'mine' AS ssn) "
        "INSERT INTO scratch SELECT * FROM c"
    )
    assert _scratch_rows(engine) == [(7, "mine")]


def test_spj_mirror_tables_not_readable_by_consumers(spark, tmp_path):
    """Round-12 probe: SPJ bucketed mirrors are PERMANENT tables in the
    shared session catalog — every session of the context can resolve
    them, and they hold UNFILTERED rows. A consumer SELECT naming a
    mirror (or any other non-temporary catalog table) must deny at
    plan time; a granted table keeps working; a typo'd name stays
    TABLE_OR_VIEW_NOT_FOUND, never a denial."""
    e = FgacEngine(spark, str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE vault (k BIGINT, ssn STRING) "
        "PARTITIONED BY (bucket(4, k))"
    )
    e.sql("INSERT INTO vault VALUES (1, 'SECRET-1'), (2, 'SECRET-2')")
    e.sql(
        "CREATE TABLE lookup (dk BIGINT, x STRING) "
        "PARTITIONED BY (bucket(4, dk))"
    )
    e.sql("INSERT INTO lookup VALUES (1, 'a')")
    # producer SQL join materializes both mirrors in the shared catalog
    assert e.sql("SELECT * FROM vault JOIN lookup ON k = dk").count() == 1
    mirrors = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("__spj_")
    ]
    assert len(mirrors) >= 2
    e.policy.grant("mallory", "lookup", {SELECT, DESCRIBE})
    sess = e.session_for("mallory")
    for m in mirrors:
        with pytest.raises(AccessDeniedException):
            sess.sql(f"SELECT * FROM {m}")
        with pytest.raises(AccessDeniedException):
            sess.sql(f"SELECT count(*) FROM (SELECT * FROM {m})")
        with pytest.raises(AccessDeniedException):
            sess.sql(f"SELECT * FROM IDENTIFIER('{m}')")
        # the as-of rewrite reads its sides' frames directly
        with pytest.raises(AccessDeniedException):
            sess.sql(f"SELECT l.x FROM lookup l ASOF JOIN {m} v ON l.dk = v.k AND l.dk >= v.k")
    # granted reads still work, and unknown names stay NOT_FOUND
    assert sess.sql("SELECT * FROM lookup").count() == 1
    with pytest.raises(Exception) as ei:
        sess.sql("SELECT * FROM lookupp").collect()
    assert "TABLE_OR_VIEW_NOT_FOUND" in str(ei.value) or "cannot be found" in str(
        ei.value
    )
    assert not isinstance(ei.value, AccessDeniedException)
    # a CTE may shadow a mirror's name (it is a local relation)
    got = sess.sql(
        f"WITH {mirrors[0]} AS (SELECT 1 AS one) SELECT * FROM {mirrors[0]}"
    ).collect()
    assert [tuple(r) for r in got] == [(1,)]


def test_ungranted_table_denies_from_the_parse(spark, tmp_path, monkeypatch):
    """A relation naming an ungranted warehouse table denies from the
    parsed relations, in any letter case and beside a granted table,
    with one audit entry each and before Spark analyzes the statement —
    also where a CTE of that name reads it in its own body; a CTE of
    that name shadows it."""
    e = FgacEngine(spark, str(tmp_path / "wh"))
    e.sql("CREATE TABLE vault (k BIGINT)")
    e.sql("CREATE TABLE lookup (k BIGINT)")
    e.policy.grant("mallory", "lookup", {SELECT})
    sess = e.session_for("mallory")
    analyzed = []
    real_sql = SparkSession.sql
    monkeypatch.setattr(
        SparkSession, "sql", lambda self, q, *a, **kw: analyzed.append(q) or real_sql(self, q, *a, **kw)
    )
    for q in (
        "SELECT * FROM vault",
        "SELECT * FROM VAULT",
        "SELECT * FROM lookup JOIN vault USING (k)",
        "WITH vault AS (SELECT * FROM vault) SELECT * FROM vault",
    ):
        before = len(e.policy.audit_log)
        with pytest.raises(AccessDeniedException, match="vault"):
            sess.sql(q)
        assert e.policy.audit_log[before:] == [("mallory", "vault", SELECT, "denied")]
    assert analyzed == []
    assert sess.sql("WITH vault AS (SELECT 1 AS one) SELECT * FROM vault").collect()[0].one == 1


def test_rewrite_views_end_with_their_statement(spark, tmp_path):
    """The views a consumer statement's rewrites register (time travel,
    metadata tables) are dropped once it is planned, and a statement
    naming an engine-internal view it did not register itself is denied
    with one audit entry: after a revoke, the snapshot an earlier
    statement read is not readable through its view name."""
    e = FgacEngine(spark, str(tmp_path / "wh"))
    e.sql("CREATE TABLE claims (k BIGINT)")
    e.sql("INSERT INTO claims VALUES (1), (2)")
    e.policy.grant("mallory", "claims", {SELECT, DESCRIBE})
    sess = e.session_for("mallory")
    snaps = e.warehouse.snapshots_df("claims").collect()
    sid = snaps[-1].snapshot_id
    assert sess.sql(f"SELECT count(*) AS n FROM claims VERSION AS OF {sid}").collect()[0].n == 2
    assert sess.sql("SELECT count(*) AS n FROM claims.snapshots").collect()[0].n == len(snaps)
    assert [t.name for t in sess.spark.catalog.listTables() if t.isTemporary and t.name.startswith("__")] == []
    e.policy.revoke("mallory", "claims")
    with pytest.raises(AccessDeniedException):
        sess.sql("SELECT count(*) FROM claims")
    for view in (f"__tt_claims_v{sid}", "__meta_claims_snapshots"):
        before = len(e.policy.audit_log)
        with pytest.raises(AccessDeniedException, match=view):
            sess.sql(f"SELECT count(*) FROM {view}")
        assert e.policy.audit_log[before:] == [("mallory", view, SELECT, "denied")]


def _denials(engine, before):
    return [e for e in engine.policy.audit_log[before:] if e[3] == "denied"]


@pytest.mark.parametrize(
    "stmt",
    [
        "WITH c AS (SELECT * FROM parquet.`{d}`) INSERT INTO scratch SELECT * FROM c",
        "UPDATE scratch SET ssn = (SELECT max(ssn) FROM parquet.`{d}`)",
        "MERGE INTO scratch t USING parquet.`{d}` s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, ssn) VALUES (s.id, s.ssn)",
        "INSERT INTO scratch SELECT * FROM IDENTIFIER('parquet.`{d}`')",
    ],
)
def test_path_sources_denied_from_the_parse(engine, stmt):
    """A path relation is a source that names no known table: denied
    from the statement's parse, wherever it stands, with one audit
    entry."""
    engine.sql("INSERT INTO scratch VALUES (1, 'mine')")
    engine.policy.grant("mallory", "scratch", {SELECT, DESCRIBE, INSERT, "DELETE"})
    sess = engine.session_for("mallory")
    before = len(engine.policy.audit_log)
    with pytest.raises(AccessDeniedException):
        sess.sql(stmt.format(d=engine.warehouse.data_dir("secrets")))
    assert len(_denials(engine, before)) == 1
    assert _scratch_rows(engine) == [(1, "mine")]


def test_delegated_write_denials_audit_once(engine):
    """Every denial on the delegated-write path leaves one audit entry:
    an unknown source, a filtered grant used as a DML source (audited
    as no grant), and ANALYZE or OPTIMIZE under a filtered grant."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import ALTER, DataCellsFilter

    engine.policy.create_data_cells_filter(
        DataCellsFilter(name="ids", table="secrets", row_filter="id > 1")
    )
    engine.policy.grant("mallory", "secrets", {SELECT}, filter_name="ids")
    engine.policy.create_data_cells_filter(
        DataCellsFilter(name="own", table="scratch", row_filter="id > 1")
    )
    engine.policy.grant("owner", "scratch", {SELECT, ALTER}, filter_name="own")
    cases = [
        ("mallory", "INSERT INTO scratch SELECT * FROM nosuch", ("nosuch", SELECT)),
        ("mallory", "INSERT INTO scratch SELECT * FROM secrets", ("secrets", "SELECT (unfiltered)")),
        ("owner", "ANALYZE TABLE scratch COMPUTE STATISTICS", ("scratch", "ALTER (unfiltered)")),
        ("owner", "OPTIMIZE scratch", ("scratch", "ALTER (unfiltered)")),
    ]
    for principal, stmt, (table, action) in cases:
        before = len(engine.policy.audit_log)
        with pytest.raises(AccessDeniedException):
            engine.session_for(principal).sql(stmt)
        assert _denials(engine, before) == [(principal, table, action, "denied")], stmt
        assert all(e[1] != table for e in engine.policy.audit_log[before:-1]), stmt
    assert _scratch_rows(engine) == []


def test_path_lookalike_text_is_no_relation(engine):
    """A quoted alias holding a slash and a literal spelling a path
    relation name no relation: both run, with the producer's rows."""
    engine.policy.grant("mallory", "secrets", {SELECT})
    engine.policy.grant("mallory", "scratch", {SELECT, DESCRIBE, INSERT, "DELETE"})
    engine.sql("CREATE TABLE twin (id INT, ssn STRING)")
    sess = engine.session_for("mallory")
    for stmt in (
        "INSERT INTO {t} SELECT count(*) AS `a/b`, ssn FROM secrets GROUP BY ssn",
        "INSERT INTO {t} VALUES (3, 'parquet.`p`')",
        "DELETE FROM {t} WHERE ssn = 'parquet.`p`' OR id = 1 AND ssn LIKE '123%'",
    ):
        sess.sql(stmt.format(t="scratch"))
        engine.sql(stmt.format(t="twin"))
        twin = [tuple(r) for r in engine.warehouse.read_table("twin").collect()]
        assert sorted(_scratch_rows(engine)) == sorted(twin), stmt
    assert sorted(_scratch_rows(engine)) == [(1, "987-65-4321")]
