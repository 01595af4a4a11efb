"""SQL entry point (VERDICT item 6): the healthcare fixture reproduced
through `engine.sql(...)` only — CREATE TABLE … PARTITIONED BY, INSERT
INTO … VALUES, DROP TABLE, DESCRIBE — mirroring the reference's Athena
producer path (producer_iceberg_datalake_setup.sh:115-159), with the
golden flagship join still returning its 6 rows."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (
    CLAIMS_ROWS,
    CLAIMS_SCHEMA,
    FLAGSHIP_JOIN_SQL,
    PATIENT_ALLOWED_COLUMNS,
    PATIENT_ROW_FILTER,
    PATIENTS_ROWS,
    PATIENTS_SCHEMA,
    TEAM1,
)
from sample_emr_on_eks_fgac_iceberg_spark.policy import DataCellsFilter


def _patients_values() -> str:
    return ",\n".join(
        f"({pid}, '{name}', DATE '{dob}', '{g}', '{city}', '{state}', '{ssn}', "
        f"TIMESTAMP '{c}', TIMESTAMP '{u}')"
        for pid, name, dob, g, city, state, ssn, c, u in PATIENTS_ROWS
    )


def _claims_values() -> str:
    return ",\n".join(
        f"('{cid}', {pid}, DATE '{cdate}', '{diag}', '{proc}', {amt}, "
        f"'{status}', '{prov}', TIMESTAMP '{c}', TIMESTAMP '{u}')"
        for cid, pid, cdate, diag, proc, amt, status, prov, c, u in CLAIMS_ROWS
    )


@pytest.fixture()
def engine(spark, tmp_path):
    return FgacEngine(spark, str(tmp_path / "wh"))


def _sql_only_fixture(engine):
    engine.sql(f"CREATE TABLE patients ({PATIENTS_SCHEMA}) PARTITIONED BY (city)")
    engine.sql(f"INSERT INTO patients VALUES {_patients_values()}")
    engine.sql(f"CREATE TABLE claims ({CLAIMS_SCHEMA}) PARTITIONED BY (status)")
    engine.sql(f"INSERT INTO claims VALUES {_claims_values()}")


def test_sql_only_fixture_flagship_join(engine):
    _sql_only_fixture(engine)
    engine.policy.create_data_cells_filter(
        DataCellsFilter(
            name="patients_column_row_filter",
            table="patients",
            allowed_columns=PATIENT_ALLOWED_COLUMNS,
            row_filter=PATIENT_ROW_FILTER,
        )
    )
    engine.policy.grant(TEAM1, "patients", filter_name="patients_column_row_filter")
    engine.policy.grant(TEAM1, "claims")
    rows = engine.session_for(TEAM1).sql(FLAGSHIP_JOIN_SQL).collect()
    assert [r.claim_id for r in rows] == [
        "CLM010", "CLM009", "CLM007", "CLM008", "CLM005", "CLM006",
    ]


def test_sql_select_over_warehouse(engine):
    _sql_only_fixture(engine)
    df = engine.sql("SELECT count(*) AS n FROM patients WHERE state = 'Texas'")
    assert df.collect()[0].n == 4


def test_table_names_resolve_case_insensitively(engine):
    """The producer matches the relations a statement's parse names by
    view name, case-insensitively, as Spark resolves identifiers and as
    the consumer surface does."""
    _sql_only_fixture(engine)
    for spelled in ("CLAIMS", "Claims", "`claims`"):
        df = engine.sql(f"SELECT count(*) AS n FROM {spelled} c JOIN PATIENTS p USING (patient_id)")
        assert df.collect()[0].n == len(CLAIMS_ROWS), spelled


def test_relation_named_only_at_analysis_is_refused(engine):
    """A relation the parse cannot name (IDENTIFIER) is refused by name,
    as on the consumer surface, never left to whatever the session
    resolves it to."""
    _sql_only_fixture(engine)
    for query in (
        "SELECT count(*) FROM IDENTIFIER('claims')",
        "DELETE FROM claims WHERE claim_id IN (SELECT claim_id FROM IDENTIFIER('claims'))",
    ):
        with pytest.raises(ValueError, match="Cannot name every relation"):
            engine.sql(query)
    assert engine.sql("SELECT count(*) FROM claims").collect()[0][0] == len(CLAIMS_ROWS)


def test_sql_describe(engine):
    engine.sql("CREATE TABLE t (k INT, v STRING)")
    rows = engine.sql("DESCRIBE t").collect()
    assert [(r.col_name, r.data_type) for r in rows] == [("k", "int"), ("v", "string")]


def test_sql_drop_table(engine):
    engine.sql("CREATE TABLE t (k INT)")
    engine.sql("DROP TABLE t")
    assert not engine.warehouse.table_exists("t")
    engine.sql("DROP TABLE IF EXISTS t")  # no-op, no error
    with pytest.raises(Exception):
        engine.sql("DROP TABLE t")


def test_sql_create_duplicate_raises(engine):
    engine.sql("CREATE TABLE t (k INT)")
    with pytest.raises(ValueError):
        engine.sql("CREATE TABLE t (k INT)")
    engine.sql("CREATE TABLE IF NOT EXISTS t (k INT)")  # no-op


def test_sql_insert_width_mismatch_raises(engine):
    engine.sql("CREATE TABLE t (k INT, v STRING)")
    with pytest.raises(ValueError):
        engine.sql("INSERT INTO t VALUES (1)")


def test_sql_insert_with_column_list(engine):
    engine.sql("CREATE TABLE t (k INT, v STRING)")
    # round 4: partial column list NULL-fills the unlisted columns
    # (standard SQL INSERT semantics) instead of erroring
    engine.sql("INSERT INTO t (k) VALUES (1)")
    engine.sql("INSERT INTO t (v, k) VALUES ('a', 2)")
    assert sorted(
        (r.k, r.v) for r in engine.sql("SELECT * FROM t").collect()
    ) == [(1, None), (2, "a")]


def test_sql_partitioned_create_prunes(engine):
    engine.sql(
        "CREATE TABLE pt (k INT, city STRING) USING iceberg PARTITIONED BY (city)"
    )
    assert engine.warehouse.partition_spec("pt") == ["city"]
    engine.sql("INSERT INTO pt VALUES (1, 'Austin'), (2, 'Dallas')")
    assert engine.sql("SELECT k FROM pt WHERE city='Austin'").collect()[0].k == 1


def test_insert_into_select(engine):
    engine.sql("CREATE TABLE src_is (k BIGINT, v STRING)")
    engine.sql("INSERT INTO src_is VALUES (1, 'a'), (2, 'b')")
    engine.sql("CREATE TABLE dst_is (k BIGINT, v STRING)")
    engine.sql("INSERT INTO dst_is SELECT k, v FROM src_is WHERE k = 2")
    rows = sorted(tuple(r) for r in engine.sql("SELECT * FROM dst_is").collect())
    assert rows == [(2, "b")]


def test_show_grants(engine):
    engine.sql("CREATE TABLE g1 (k INT)")
    engine.sql("GRANT SELECT, DESCRIBE ON g1 TO team-a WITH GRANT OPTION")
    engine.sql("GRANT SELECT ON g1 TO team-b")
    rows = engine.sql("SHOW GRANTS ON g1").collect()
    got = {(r.principal, r.permissions, r.grant_option) for r in rows}
    assert ("team-a", "DESCRIBE, SELECT", True) in got
    assert ("team-b", "SELECT", False) in got
    all_rows = engine.sql("SHOW GRANTS").collect()
    assert len(all_rows) >= len(rows)


def test_database_lifecycle(engine):
    engine.sql("CREATE DATABASE healthcare_db")
    assert [r.database_name for r in engine.sql("SHOW DATABASES").collect()] == [
        "healthcare_db"
    ]
    engine.sql("CREATE DATABASE IF NOT EXISTS healthcare_db")  # idempotent form
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE DATABASE healthcare_db")
    engine.sql("CREATE TABLE healthcare_db.pat (k INT)")
    engine.sql("INSERT INTO healthcare_db.pat VALUES (1)")
    assert [
        r.table_name
        for r in engine.sql("SHOW TABLES IN healthcare_db").collect()
    ] == ["healthcare_db.pat"]
    # Glue semantics: non-empty database needs CASCADE
    with pytest.raises(ValueError, match="CASCADE"):
        engine.sql("DROP DATABASE healthcare_db")
    engine.sql("DROP DATABASE healthcare_db CASCADE")
    assert engine.sql("SHOW DATABASES").count() == 0
    assert not engine.warehouse.table_exists("healthcare_db.pat")
    engine.sql("DROP DATABASE IF EXISTS healthcare_db")  # no error
    with pytest.raises(ValueError, match="does not exist"):
        engine.sql("DROP DATABASE healthcare_db")


def test_audit_log_queryable_as_sql(engine):
    from sample_emr_on_eks_fgac_iceberg_spark.policy import AccessDeniedException

    engine.sql("CREATE TABLE aud (k INT)")
    engine.policy.grant("alice", "aud")
    engine.session_for("alice").sql("SELECT * FROM aud")
    with pytest.raises(AccessDeniedException):
        engine.session_for("mallet").sql("SELECT * FROM aud")
    rows = engine.sql(
        "SELECT principal, decision, COUNT(*) AS n FROM system.audit_log "
        "GROUP BY principal, decision"
    ).collect()
    got = {(r.principal, r.decision) for r in rows}
    assert ("alice", "granted") in got and ("mallet", "denied") in got


def test_alter_table_rename_to_sql(engine):
    engine.sql("CREATE TABLE sqlrn (k INT)")
    engine.sql("INSERT INTO sqlrn VALUES (1), (2)")
    engine.sql("ALTER TABLE sqlrn RENAME TO sqlrn2")
    assert engine.sql("SELECT COUNT(*) AS n FROM sqlrn2").collect()[0].n == 2
    tables = {r.table_name for r in engine.sql("SHOW TABLES").collect()}
    assert "sqlrn2" in tables and "sqlrn" not in tables


def test_create_table_like(engine):
    engine.sql(
        "CREATE TABLE like_src (k INT, city STRING) PARTITIONED BY (city)"
    )
    engine.sql("INSERT INTO like_src VALUES (1, 'Austin')")
    engine.sql("CREATE TABLE like_dst LIKE like_src")
    # schema + partition spec copied, data NOT copied
    rows = engine.sql("DESCRIBE like_dst").collect()
    assert [(r.col_name, r.data_type) for r in rows] == [
        ("k", "int"),
        ("city", "string"),
    ]
    assert engine.sql("SELECT COUNT(*) AS n FROM like_dst").collect()[0].n == 0
    engine.sql("INSERT INTO like_dst VALUES (9, 'Reno')")
    assert engine.sql("SELECT COUNT(*) AS n FROM like_dst").collect()[0].n == 1
    # IF NOT EXISTS tolerates repeats; plain form errors
    engine.sql("CREATE TABLE IF NOT EXISTS like_dst LIKE like_src")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE like_dst LIKE like_src")


def test_show_partitions_and_tblproperties(engine):
    engine.sql(
        "CREATE TABLE spt (k INT, city STRING) PARTITIONED BY (city) "
        "TBLPROPERTIES ('write.delete.mode'='copy-on-write')"
    )
    engine.sql("INSERT INTO spt VALUES (1, 'Austin'), (2, 'Dallas'), (3, 'Austin')")
    parts = [r.partition for r in engine.sql("SHOW PARTITIONS spt").collect()]
    assert parts == ["city=Austin", "city=Dallas"]
    props = {r.key: r.value for r in engine.sql("SHOW TBLPROPERTIES spt").collect()}
    assert props.get("write.delete.mode") == "copy-on-write"
    one = engine.sql("SHOW TBLPROPERTIES spt ('write.delete.mode')").collect()
    assert len(one) == 1 and one[0].value == "copy-on-write"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not have property"):
        engine.sql("SHOW TBLPROPERTIES spt ('nope')")
    engine.sql("CREATE TABLE spt_flat (k INT)")
    with _pytest.raises(ValueError, match="not partitioned"):
        engine.sql("SHOW PARTITIONS spt_flat")


def test_create_or_replace_table(engine):
    engine.sql("CREATE TABLE corr (k INT)")
    engine.sql("INSERT INTO corr VALUES (1)")
    engine.sql("CREATE OR REPLACE TABLE corr (k INT, v STRING)")
    assert engine.sql("SELECT count(*) AS n FROM corr").collect()[0].n == 0
    cols = [f.name for f in engine.warehouse.schema_of("corr").fields]
    assert cols == ["k", "v"]
    # CTAS variant
    engine.sql("INSERT INTO corr VALUES (1, 'a'), (2, 'b')")
    engine.sql("CREATE OR REPLACE TABLE corr AS SELECT k FROM corr WHERE k = 2")
    rows = engine.sql("SELECT * FROM corr").collect()
    assert [r.k for r in rows] == [2]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="IF NOT EXISTS"):
        engine.sql("CREATE OR REPLACE TABLE IF NOT EXISTS corr (k INT)")


# ---------------------------------------------- round-5 review fixes
def test_create_or_replace_never_drops_on_invalid_definition(engine):
    """A failed replacement must leave the old table untouched — the
    original ordering dropped first and validated after (review
    finding, verified live)."""
    engine.sql("CREATE TABLE keepme (k INT)")
    engine.sql("INSERT INTO keepme VALUES (1)")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.sql(
            "CREATE OR REPLACE TABLE keepme (k INT) PARTITIONED BY (nosuch)"
        )
    with _pytest.raises(ValueError):
        engine.sql(
            "CREATE OR REPLACE TABLE keepme PARTITIONED BY (nosuch) "
            "AS SELECT k FROM keepme"
        )
    assert engine.sql("SELECT count(*) AS n FROM keepme").collect()[0].n == 1


def test_dml_subquery_rewrite_spares_string_literals(engine):
    """Dotted table names inside string LITERALS must survive the
    subquery view rewrite (review finding: 'qdb.s' in a comparison
    value was rewritten into a view name and matched nothing)."""
    engine.sql("CREATE DATABASE litdb")
    engine.sql("CREATE TABLE litdb.s (k INT)")
    engine.sql("INSERT INTO litdb.s VALUES (1)")
    engine.sql("CREATE TABLE lit_t (k INT, v STRING)")
    engine.sql("INSERT INTO lit_t VALUES (1, 'litdb.s'), (2, 'other')")
    engine.sql(
        "DELETE FROM lit_t WHERE v = 'litdb.s' "
        "AND k IN (SELECT k FROM litdb.s)"
    )
    rows = [(r.k, r.v) for r in engine.sql("SELECT * FROM lit_t").collect()]
    assert rows == [(2, "other")]


def test_show_partitions_reflects_current_snapshot(engine):
    """Copy-on-write keeps dead files for time travel; SHOW PARTITIONS
    must list only partitions with live rows (review finding)."""
    engine.sql("CREATE TABLE spp (k INT, city STRING) PARTITIONED BY (city)")
    engine.sql("INSERT INTO spp VALUES (1, 'Austin'), (2, 'Dallas')")
    engine.sql("DELETE FROM spp WHERE city = 'Dallas'")
    parts = [r.partition for r in engine.sql("SHOW PARTITIONS spp").collect()]
    assert parts == ["city=Austin"]


def test_cte_insert_ignores_insert_inside_comments(engine):
    """The top-level INSERT scanner must skip SQL comments (review
    finding: a comment mentioning INSERT INTO was lifted as the
    clause)."""
    engine.sql("CREATE TABLE cmt (k INT)")
    engine.sql(
        "WITH c AS (SELECT 5 AS k) /* note: INSERT INTO decoy */ "
        "INSERT INTO cmt SELECT * FROM c"
    )
    assert [r.k for r in engine.sql("SELECT * FROM cmt").collect()] == [5]


def test_dml_subquery_views_do_not_outlive_dropped_tables(engine):
    """A dropped table's leftover DML temp view must not serve stale
    data to a later subquery (review finding)."""
    engine.sql("CREATE TABLE dv_t (k INT)")
    engine.sql("INSERT INTO dv_t VALUES (1), (2)")
    engine.sql("CREATE TABLE dv_s (k INT)")
    engine.sql("INSERT INTO dv_s VALUES (1)")
    engine.sql("DELETE FROM dv_t WHERE k IN (SELECT k FROM dv_s)")  # registers views
    engine.sql("DROP TABLE dv_s")
    import pytest as _pytest

    with _pytest.raises(Exception, match="dv_s|not.*exist|NOT_FOUND"):
        engine.sql("DELETE FROM dv_t WHERE k IN (SELECT k FROM dv_s)")


# --------------------------------- branch/tag DDL (round 11)
def test_alter_table_tag_branch_ddl(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
        SnapshotNotFoundError,
        Warehouse,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

    wh = Warehouse(spark, str(tmp_path / "wh"))
    fe = SqlFrontend(spark, wh)
    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("INSERT INTO t VALUES (1)")
    fe.execute("ALTER TABLE t CREATE TAG v1")
    fe.execute("INSERT INTO t VALUES (2)")
    fe.execute("ALTER TABLE t CREATE BRANCH dev AS OF VERSION 1")
    # tag pins snapshot 1; branch points at snapshot 1 explicitly
    assert sorted(
        r[0] for r in fe.execute("SELECT k FROM t VERSION AS OF 'v1'").collect()
    ) == [1]
    assert sorted(
        r[0] for r in fe.execute("SELECT k FROM t VERSION AS OF 'dev'").collect()
    ) == [1]
    # duplicate CREATE refuses; CREATE OR REPLACE upserts to head
    with pytest.raises(ValueError, match="already exists"):
        fe.execute("ALTER TABLE t CREATE TAG v1")
    fe.execute("ALTER TABLE t CREATE OR REPLACE TAG v1")
    assert sorted(
        r[0] for r in fe.execute("SELECT k FROM t VERSION AS OF 'v1'").collect()
    ) == [1, 2]
    # bare REPLACE requires existence and matching kind
    with pytest.raises(ValueError, match="Unknown ref"):
        fe.execute("ALTER TABLE t REPLACE BRANCH nope AS OF VERSION 1")
    with pytest.raises(ValueError, match="is a tag"):
        fe.execute("ALTER TABLE t REPLACE BRANCH v1 AS OF VERSION 1")
    # kind-checked drops; IF EXISTS swallows missing
    with pytest.raises(ValueError, match="is a branch"):
        fe.execute("ALTER TABLE t DROP TAG dev")
    fe.execute("ALTER TABLE t DROP BRANCH dev")
    with pytest.raises(ValueError, match="Unknown ref"):
        fe.execute("ALTER TABLE t DROP BRANCH dev")
    fe.execute("ALTER TABLE t DROP BRANCH IF EXISTS dev")
    with pytest.raises(SnapshotNotFoundError):
        fe.execute("SELECT k FROM t VERSION AS OF 'dev'").collect()


# --------------------------------- SQL-defined functions (round 11)
def test_create_sql_function_and_use(spark, tmp_path):
    """Spark 4 SQL scalar UDFs through the frontend: the definition
    survives the per-query scratch-session isolation (replayed DDL),
    resolves inside DML predicates on the primary session, and obeys
    CREATE/OR REPLACE/DROP [IF EXISTS] semantics."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

    wh = Warehouse(spark, str(tmp_path / "wh"))
    fe = SqlFrontend(spark, wh)
    fe.execute("CREATE TABLE t (k INT, p DOUBLE, d DOUBLE)")
    fe.execute("INSERT INTO t VALUES (1, 100.0, 0.1), (2, 50.0, 0.5)")
    # persistent (non-TEMPORARY) CREATE FUNCTION refuses loudly instead
    # of silently downgrading to session scope (ADVICE r11)
    with pytest.raises(ValueError, match="TEMPORARY"):
        fe.execute(
            "CREATE FUNCTION net(p DOUBLE, d DOUBLE) RETURNS DOUBLE "
            "RETURN p * (1 - d)"
        )
    fe.execute(
        "CREATE TEMPORARY FUNCTION net(p DOUBLE, d DOUBLE) RETURNS DOUBLE "
        "RETURN p * (1 - d)"
    )
    got = sorted(
        tuple(r) for r in fe.execute("SELECT k, net(p, d) AS n FROM t").collect()
    )
    assert got == [(1, 90.0), (2, 25.0)]
    # duplicate CREATE refuses; OR REPLACE redefines
    with pytest.raises(ValueError, match="already exists"):
        fe.execute(
            "CREATE TEMPORARY FUNCTION net(p DOUBLE) RETURNS DOUBLE RETURN p"
        )
    fe.execute(
        "CREATE OR REPLACE TEMPORARY FUNCTION net(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d) * 2"
    )
    got = sorted(
        r["n"] for r in fe.execute("SELECT net(p, d) AS n FROM t").collect()
    )
    assert got == [50.0, 180.0]
    # resolves inside a DML predicate (primary-session registration)
    fe.execute("DELETE FROM t WHERE net(p, d) > 100")
    assert sorted(r[0] for r in fe.execute("SELECT k FROM t").collect()) == [2]
    # drop semantics
    fe.execute("DROP FUNCTION net")
    with pytest.raises(ValueError, match="Unknown function"):
        fe.execute("DROP FUNCTION net")
    fe.execute("DROP FUNCTION IF EXISTS net")


def test_comment_prefixed_ddl_lands_in_the_warehouse(engine, spark):
    """The dispatch ladder sees the comment-stripped statement: a
    leading comment must not route CREATE TABLE past its shape onto
    Spark's own catalog as a MANAGED table."""
    engine.sql("-- c\nCREATE TABLE commented_ddl_t (y INT)")
    assert "commented_ddl_t" in engine.warehouse.list_tables()
    assert "commented_ddl_t" not in {t.name for t in spark.catalog.listTables()}
    engine.sql("/* c */ INSERT INTO commented_ddl_t VALUES (7) -- trailing")
    assert [tuple(r) for r in engine.sql("SELECT * FROM commented_ddl_t").collect()] == [(7,)]


# ------------------------------------------ one parse-based dispatch
@pytest.mark.parametrize(
    "stmt",
    [
        "SET spark.sql.shuffle.partitions = 7",
        "CREATE TEMPORARY VIEW ft_v USING parquet OPTIONS (path '/nonexistent')",
        "INSERT OVERWRITE DIRECTORY '/nonexistent/ft_dir' SELECT 1",
        "CACHE TABLE ft_t",
    ],
)
def test_statement_without_a_handler_fails_closed(engine, spark, stmt):
    """A parsed statement no handler takes is refused, never handed to a
    scratch session or Spark's own catalog: nothing new appears in the
    session catalog or under spark.sql.warehouse.dir."""
    import os

    engine.sql("CREATE TABLE ft_t (k INT)")
    wh_dir = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def spark_side():
        return (
            {t.name for t in spark.catalog.listTables()},
            sorted(os.listdir(wh_dir)) if os.path.isdir(wh_dir) else [],
        )

    before = spark_side()
    with pytest.raises(ValueError, match="not supported"):
        engine.sql(stmt)
    assert spark_side() == before
    assert spark.conf.get("spark.sql.shuffle.partitions") != "7"


def test_both_surfaces_share_one_classification():
    """Every plan class the consumer surface delegates has a producer
    handler, and both surfaces match Spark-rejected text against the
    same engine-grammar table."""
    from sample_emr_on_eks_fgac_iceberg_spark import policy, sql_frontend
    from sample_emr_on_eks_fgac_iceberg_spark.policy import SecureSession
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

    delegating = {SecureSession._insert, SecureSession._create_table}
    delegated = [
        cls
        for cls, (handler, _) in SecureSession._STATEMENTS.items()
        if handler in delegating or handler.__qualname__.startswith("_delegated")
    ]
    assert len(delegated) >= 15
    assert [c for c in delegated if c not in SqlFrontend._STATEMENTS] == []
    assert policy.ENGINE_GRAMMAR is sql_frontend.ENGINE_GRAMMAR
    assert policy.match_engine_grammar is sql_frontend.match_engine_grammar
    assert set(SecureSession._ENGINE_STATEMENTS) <= set(sql_frontend.ENGINE_GRAMMAR)
    assert all(hasattr(SqlFrontend, name) for name in sql_frontend.ENGINE_GRAMMAR)


def _count_parses(monkeypatch) -> list:
    from sample_emr_on_eks_fgac_iceberg_spark import policy, sql_frontend

    calls = []
    real = sql_frontend.parse_statement

    def counted(spark, text):
        calls.append(text)
        return real(spark, text)

    monkeypatch.setattr(sql_frontend, "parse_statement", counted)
    monkeypatch.setattr(policy, "parse_statement", counted)
    return calls


def test_producer_statement_is_parsed_at_most_once(engine, monkeypatch):
    engine.sql("CREATE TABLE pc_t (k INT, v STRING)")
    engine.sql("CREATE TABLE pc_s (k INT, v STRING)")
    engine.sql("INSERT INTO pc_s VALUES (1, 'a'), (2, 'b')")
    calls = _count_parses(monkeypatch)
    for stmt in [
        "INSERT INTO pc_t VALUES (1, 'x')",
        "INSERT INTO pc_t SELECT * FROM pc_s WHERE k IN (SELECT k FROM pc_s)",
        "WITH c AS (SELECT 3 AS k) INSERT INTO pc_t (k) SELECT k FROM c",
        "MERGE INTO pc_t t USING (SELECT * FROM pc_s) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *",
        "UPDATE pc_t SET v = 'u' WHERE k = 3",
        "DELETE FROM pc_t WHERE k IN (SELECT k FROM pc_s WHERE k = 2)",
        "CREATE TABLE pc_c AS SELECT * FROM pc_t",
        "CREATE VIEW pc_v AS SELECT k FROM pc_t",
        "SELECT count(*) FROM pc_v",
        "EXPLAIN SELECT * FROM pc_t",
        "DESCRIBE pc_t",
    ]:
        del calls[:]
        engine.sql(stmt)
        assert len(calls) <= 1, stmt
    assert sorted(tuple(r) for r in engine.sql("SELECT * FROM pc_t").collect()) == [
        (1, "a"),
        (1, "a"),
        (3, "u"),
    ]


def test_view_body_is_parsed_once_per_body(engine, monkeypatch):
    """A read through a stored view parses only the statement, an ASOF
    body included; CREATE OR REPLACE gives the view its new body's
    relations."""
    engine.sql("CREATE TABLE pl (lk INT, lts INT)")
    engine.sql("CREATE TABLE pr (rk INT, rts INT)")
    engine.sql("INSERT INTO pl VALUES (1, 5)")
    engine.sql("INSERT INTO pr VALUES (1, 3), (1, 7)")
    engine.sql(
        "CREATE VIEW pav AS SELECT l.lk, r.rts FROM pl l ASOF JOIN pr r "
        "ON l.lk = r.rk AND l.lts >= r.rts"
    )
    calls = _count_parses(monkeypatch)
    for _ in range(2):
        del calls[:]
        assert [tuple(r) for r in engine.sql("SELECT * FROM pav").collect()] == [(1, 3)]
        assert len(calls) == 1
    engine.sql("CREATE OR REPLACE VIEW pav AS SELECT rk, rts FROM pr")
    del calls[:]
    assert sorted(tuple(r) for r in engine.sql("SELECT * FROM pav").collect()) == [(1, 3), (1, 7)]
    assert len(calls) == 1


def test_delegated_consumer_write_is_parsed_once(engine, monkeypatch):
    """SecureSession hands its parse to the trusted frontend: a write is
    parsed once across both surfaces."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import DELETE, INSERT, SELECT

    engine.sql("CREATE TABLE pw_t (k INT, v STRING)")
    engine.policy.grant("pw", "pw_t", {SELECT, INSERT, DELETE})
    sess = engine.session_for("pw")
    calls = _count_parses(monkeypatch)
    for stmt in [
        "INSERT INTO pw_t VALUES (1, 'a'), (2, 'b')",
        "MERGE INTO pw_t t USING (SELECT 1 AS k, 'm' AS v) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
        "UPDATE pw_t SET v = 'u' WHERE k = 2",
        "DELETE FROM pw_t WHERE k = 1",
    ]:
        del calls[:]
        sess.sql(stmt)
        assert len(calls) == 1, stmt
    assert [tuple(r) for r in engine.sql("SELECT * FROM pw_t").collect()] == [(2, "u")]


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_aliased_dml_keeps_correlated_subqueries(engine, mode):
    """The target alias of a DELETE/UPDATE names the table's rows inside
    a correlated subquery too: a same-named key in the subquery's own
    table must not capture ``o.order_id``."""
    props = f"'write.delete.mode'='{mode}', 'write.update.mode'='{mode}'"
    engine.sql(f"CREATE TABLE ad_orders (order_id INT, v STRING) TBLPROPERTIES ({props})")
    engine.sql("CREATE TABLE ad_returns (order_id INT, tag STRING)")
    engine.sql("INSERT INTO ad_orders VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    engine.sql("INSERT INTO ad_returns VALUES (2, 'r2'), (3, 'r3'), (9, 'r9')")

    def rows():
        return sorted(tuple(r) for r in engine.sql("SELECT * FROM ad_orders").collect())

    engine.sql(
        "UPDATE ad_orders AS o SET v = (SELECT max(r.tag) FROM ad_returns r "
        "WHERE r.order_id = o.order_id) WHERE o.order_id IN "
        "(SELECT r.order_id FROM ad_returns r WHERE r.order_id = o.order_id AND r.tag = 'r3')"
    )
    assert rows() == [(1, "a"), (2, "b"), (3, "r3"), (4, "d")]
    engine.sql(
        "DELETE FROM ad_orders AS o WHERE EXISTS "
        "(SELECT 1 FROM ad_returns r WHERE r.order_id = o.order_id)"
    )
    assert rows() == [(1, "a"), (4, "d")]
    engine.sql("DELETE FROM ad_orders x WHERE x.order_id = 4")
    assert rows() == [(1, "a")]


def test_aliased_delete_through_a_granted_session(engine):
    from sample_emr_on_eks_fgac_iceberg_spark.policy import DELETE, SELECT

    engine.sql("CREATE TABLE ag_orders (order_id INT)")
    engine.sql("CREATE TABLE ag_returns (order_id INT)")
    engine.sql("INSERT INTO ag_orders VALUES (1), (2), (3)")
    engine.sql("INSERT INTO ag_returns VALUES (2)")
    engine.policy.grant("ag", "ag_orders", {SELECT, DELETE})
    engine.policy.grant("ag", "ag_returns", {SELECT})
    engine.session_for("ag").sql(
        "DELETE FROM ag_orders AS o WHERE EXISTS "
        "(SELECT 1 FROM ag_returns r WHERE r.order_id = o.order_id)"
    )
    assert sorted(r[0] for r in engine.sql("SELECT * FROM ag_orders").collect()) == [1, 3]


@pytest.mark.parametrize(
    "stmt",
    [
        "WITH c AS (SELECT 1 AS k, 'w' AS v) MERGE INTO cw_t t USING c ON t.k = c.k "
        "WHEN MATCHED THEN UPDATE SET v = c.v WHEN NOT MATCHED THEN INSERT *",
        "WITH c AS (SELECT 1 AS k) DELETE FROM cw_t WHERE k IN (SELECT k FROM c)",
        "WITH c AS (SELECT 1 AS k) UPDATE cw_t SET v = 'w' WHERE k IN (SELECT k FROM c)",
    ],
)
def test_cte_prefixed_write_other_than_insert_refuses(engine, stmt):
    """Only an INSERT carries its WITH clause into its source: any other
    CTE-prefixed write is refused, and a table named like the CTE is
    left alone and does not drive the write."""
    engine.sql("CREATE TABLE cw_t (k INT, v STRING)")
    engine.sql("CREATE TABLE c (k INT, v STRING)")
    engine.sql("INSERT INTO cw_t VALUES (1, 'a'), (2, 'b')")
    engine.sql("INSERT INTO c VALUES (2, 'c')")
    with pytest.raises(ValueError, match="CTE-prefixed"):
        engine.sql(stmt)
    assert sorted(tuple(r) for r in engine.sql("SELECT * FROM cw_t").collect()) == [
        (1, "a"),
        (2, "b"),
    ]
