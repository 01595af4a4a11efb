"""SQL-statement surface for row-level DML, schema evolution, and time
travel — the full Iceberg SQL shape the reference's producer would use
through Athena/Spark SQL (producer_account_setup/
producer_iceberg_datalake_setup.sh runs pure SQL; Iceberg tables
additionally accept UPDATE/DELETE/MERGE and ALTER TABLE)."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine


@pytest.fixture()
def engine(spark, tmp_path):
    e = FgacEngine(spark, str(tmp_path / "wh"))
    e.sql("CREATE TABLE inv (k INT, qty INT, city STRING) PARTITIONED BY (city)")
    e.sql("INSERT INTO inv VALUES (1, 10, 'Austin'), (2, 20, 'Dallas'), (3, 30, 'Austin')")
    return e


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_sql_delete(engine):
    engine.sql("DELETE FROM inv WHERE qty >= 30")
    assert _rows(engine.sql("SELECT k FROM inv")) == [(1,), (2,)]


def test_sql_update(engine):
    engine.sql("UPDATE inv SET qty = qty * 2, city = upper(city) WHERE k = 1")
    assert _rows(engine.sql("SELECT k, qty, city FROM inv ORDER BY k")) == [
        (1, 20, "AUSTIN"), (2, 20, "Dallas"), (3, 30, "Austin"),
    ]


def test_sql_update_no_where(engine):
    engine.sql("UPDATE inv SET qty = 0")
    assert _rows(engine.sql("SELECT DISTINCT qty FROM inv")) == [(0,)]


def test_sql_merge_upsert(engine):
    engine.sql("CREATE TABLE updates (k INT, qty INT, city STRING)")
    engine.sql("INSERT INTO updates VALUES (2, 99, 'Dallas'), (4, 40, 'Houston')")
    engine.sql(
        """
        MERGE INTO inv t USING updates s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert _rows(engine.sql("SELECT k, qty FROM inv")) == [
        (1, 10), (2, 99), (3, 30), (4, 40),
    ]


def test_merge_source_name_resolves_like_any_relation(engine):
    """A MERGE's named source is a relation of the parse: matched
    case-insensitively, and a warehouse view as well as a table."""
    engine.sql("CREATE TABLE updates (k INT, qty INT, city STRING)")
    engine.sql("INSERT INTO updates VALUES (2, 99, 'Dallas')")
    engine.sql("CREATE VIEW big_updates AS SELECT k, qty + 1 AS qty, city FROM updates")
    for source, qty in (("UPDATES", 99), ("big_updates", 100)):
        engine.sql(
            f"MERGE INTO inv t USING {source} s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET qty = s.qty"
        )
        assert _rows(engine.sql("SELECT qty FROM inv WHERE k = 2")) == [(qty,)], source


def test_sql_merge_subquery_source_and_delete_clause(engine):
    engine.sql("CREATE TABLE updates (k INT, qty INT)")
    engine.sql("INSERT INTO updates VALUES (1, -1), (3, -1)")
    engine.sql(
        """
        MERGE INTO inv t USING (SELECT k FROM updates WHERE k > 1) s
        ON t.k = s.k
        WHEN MATCHED THEN DELETE
        """
    )
    assert _rows(engine.sql("SELECT k FROM inv")) == [(1,), (2,)]


def test_sql_merge_insert_values_clause(engine):
    engine.sql("CREATE TABLE updates (k INT, qty INT)")
    engine.sql("INSERT INTO updates VALUES (9, 90)")
    engine.sql(
        """
        MERGE INTO inv t USING updates s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, qty, city) VALUES (s.k, s.qty, 'Web')
        """
    )
    assert _rows(engine.sql("SELECT k, qty, city FROM inv WHERE k = 9")) == [(9, 90, "Web")]


def test_sql_alter_add_drop_rename(engine):
    engine.sql("ALTER TABLE inv ADD COLUMNS (note STRING)")
    assert _rows(engine.sql("SELECT note FROM inv WHERE k = 1")) == [(None,)]
    engine.sql("UPDATE inv SET note = 'checked' WHERE k = 1")
    engine.sql("ALTER TABLE inv RENAME COLUMN note TO remark")
    assert _rows(engine.sql("SELECT remark FROM inv WHERE k = 1")) == [("checked",)]
    engine.sql("ALTER TABLE inv DROP COLUMN remark")
    cols = [r.col_name for r in engine.sql("DESCRIBE inv").collect()]
    assert cols == ["k", "qty", "city"]


def test_sql_time_travel_version(engine):
    engine.sql("DELETE FROM inv WHERE k = 1")
    assert _rows(engine.sql("SELECT k FROM inv")) == [(2,), (3,)]
    assert _rows(engine.sql("SELECT k FROM inv VERSION AS OF 1")) == [(1,), (2,), (3,)]
    # Iceberg FOR SYSTEM_VERSION spelling
    assert _rows(engine.sql("SELECT k FROM inv FOR SYSTEM_VERSION AS OF 1")) == [
        (1,), (2,), (3,),
    ]


def test_sql_time_travel_timestamp(engine):
    from datetime import datetime, timezone

    snap_ts = engine.warehouse.snapshots("inv")[0]["timestamp_ms"]
    engine.sql("INSERT INTO inv VALUES (4, 40, 'Austin')")
    # in the session time zone (UTC), not the process's local time
    lit = datetime.fromtimestamp(snap_ts / 1000, timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")
    assert _rows(engine.sql(f"SELECT k FROM inv TIMESTAMP AS OF '{lit}'")) == [
        (1,), (2,), (3,),
    ]


# ---------------------------------------------------- metadata tables
def test_metadata_tables(engine):
    engine.sql("DELETE FROM inv WHERE k = 1")
    snaps = engine.sql("SELECT * FROM inv.snapshots ORDER BY snapshot_id").collect()
    assert [s.operation for s in snaps] == ["append", "delete"]
    assert snaps[0].added_files_count >= 1
    assert snaps[1].removed_files_count >= 1

    files = engine.sql("SELECT * FROM inv.files").collect()
    assert sum(f.record_count for f in files) == 2  # rows 2 and 3 remain
    assert all(f.file_size_in_bytes > 0 for f in files)

    hist = engine.sql("SELECT snapshot_id FROM inv.history").collect()
    assert [h.snapshot_id for h in hist] == [1, 2]

    parts = engine.sql(
        "SELECT partition, record_count FROM inv.partitions ORDER BY partition"
    ).collect()
    assert {p.partition for p in parts} <= {"city=Austin", "city=Dallas"}
    assert sum(p.record_count for p in parts) == 2

    # metadata joins with data tables in one statement
    joined = engine.sql(
        """
        SELECT s.operation, count(*) AS n
        FROM inv.snapshots s CROSS JOIN inv
        GROUP BY s.operation ORDER BY s.operation
        """
    ).collect()
    assert [(r.operation, r.n) for r in joined] == [("append", 2), ("delete", 2)]


def test_show_tables(engine):
    engine.sql("CREATE TABLE zed (k INT)")
    names = [r.table_name for r in engine.sql("SHOW TABLES").collect()]
    assert "inv" in names and "zed" in names


# ------------------------------------------------- CTAS + write order
def test_ctas(engine):
    engine.sql(
        "CREATE TABLE austin_inv PARTITIONED BY (city) AS "
        "SELECT k, qty, city FROM inv WHERE city = 'Austin'"
    )
    assert _rows(engine.sql("SELECT k FROM austin_inv")) == [(1,), (3,)]
    # CTAS result is a first-class table: snapshots, DML, time travel
    engine.sql("DELETE FROM austin_inv WHERE k = 1")
    assert _rows(engine.sql("SELECT k FROM austin_inv VERSION AS OF 1")) == [(1,), (3,)]
    # IF NOT EXISTS is a no-op on an existing table
    engine.sql("CREATE TABLE IF NOT EXISTS austin_inv AS SELECT 1 AS x")
    assert _rows(engine.sql("SELECT k FROM austin_inv")) == [(3,)]


def test_write_ordered_by_sorts_files(engine, tmp_path):
    import pyarrow.parquet as pq
    import os

    engine.sql("CREATE TABLE wo (k INT, v INT)")
    engine.sql("ALTER TABLE wo WRITE ORDERED BY (v)")
    engine.sql(
        "INSERT INTO wo VALUES (1, 9), (2, 3), (3, 7), (4, 1), (5, 5), (6, 2)"
    )
    wh = engine.warehouse
    data = wh.data_dir("wo")
    for f in wh._live_files(wh._read_meta("wo")):
        vals = pq.read_table(os.path.join(data, f)).column("v").to_pylist()
        assert vals == sorted(vals), f"file {f} not sorted: {vals}"
    # rows unharmed
    assert _rows(engine.sql("SELECT k, v FROM wo ORDER BY k"))[0] == (1, 9)
    with pytest.raises(ValueError, match="not in schema"):
        engine.sql("ALTER TABLE wo WRITE ORDERED BY (nope)")


# --------------------------------------- GRANT/REVOKE + orphan cleanup
def test_sql_grant_revoke_roundtrip(engine):
    from sample_emr_on_eks_fgac_iceberg_spark.policy import AccessDeniedException

    engine.sql("GRANT SELECT, DESCRIBE ON inv TO analyst")
    sess = engine.session_for("analyst")
    assert sess.sql("SELECT count(*) AS n FROM inv").collect()[0].n == 3
    with pytest.raises(AccessDeniedException):
        sess.sql("DELETE FROM inv WHERE k = 1")  # no write perms granted
    engine.sql("GRANT ALL ON inv TO steward WITH GRANT OPTION")
    st = engine.session_for("steward")
    st.sql("DELETE FROM inv WHERE k = 3")
    assert engine.sql("SELECT count(*) AS n FROM inv").collect()[0].n == 2
    # steward's grant_option allows delegation through the policy API
    engine.policy.grant("junior", "inv", {"SELECT"}, granted_by="steward")
    engine.sql("REVOKE ALL ON inv FROM analyst")
    with pytest.raises(AccessDeniedException):
        engine.session_for("analyst").sql("SELECT * FROM inv")
    with pytest.raises(ValueError, match="Unknown permissions"):
        engine.sql("GRANT FROB ON inv TO x")
    with pytest.raises(ValueError, match="does not exist"):
        engine.sql("GRANT SELECT ON nope TO x")


def test_remove_orphan_files(engine):
    import os

    wh = engine.warehouse
    data = wh.data_dir("inv")
    stray = os.path.join(data, "part-99999-orphan.snappy.parquet")
    # simulate a failed write's debris: copy a real file uncommitted
    real = next(iter(wh._live_files(wh._read_meta("inv"))))
    import shutil

    shutil.copy(os.path.join(data, real), stray)
    stats = wh.remove_orphan_files("inv")
    assert stats["deleted_files"] == 1
    assert not os.path.exists(stray)
    assert engine.sql("SELECT count(*) AS n FROM inv").collect()[0].n == 3


def test_snapshot_summary_records(engine):
    engine.sql("INSERT INTO inv VALUES (7, 70, 'Austin'), (8, 80, 'Dallas')")
    snaps = engine.sql(
        "SELECT operation, added_records FROM inv.snapshots ORDER BY snapshot_id"
    ).collect()
    assert snaps[0].added_records == 3 and snaps[1].added_records == 2


def test_refs_and_manifests_metadata_tables(engine):
    wh = engine.warehouse
    wh.create_tag("inv", "v1")
    engine.sql("INSERT INTO inv VALUES (9, 90, 'Austin')")
    refs = {(r.name, r.type, r.snapshot_id) for r in engine.sql(
        "SELECT * FROM inv.refs").collect()}
    assert ("v1", "TAG", 1) in refs and ("main", "BRANCH", 2) in refs
    man = engine.sql(
        "SELECT * FROM inv.manifests ORDER BY sequence_number").collect()
    assert [m.operation for m in man] == ["append", "append"]
    assert man[0].added_records == 3 and man[1].added_records == 1
    assert man[0].added_delete_files_count == 0


# ---------------------------------------- INSERT column-list alignment
def test_insert_select_with_column_list(engine):
    """INSERT INTO t (cols) SELECT … maps the select output onto the
    listed columns positionally; unlisted columns NULL-fill (standard
    SQL semantics — previously this shape fell through to an obscure
    AnalysisException)."""
    engine.sql("CREATE TABLE inv2 (k INT, qty INT, city STRING)")
    engine.sql("INSERT INTO inv2 (k, city) SELECT k + 100, city FROM inv WHERE k = 1")
    assert _rows(engine.sql("SELECT * FROM inv2")) == [(101, None, "Austin")]


def test_insert_values_with_partial_column_list(engine):
    engine.sql("INSERT INTO inv (k, city) VALUES (9, 'Waco')")
    assert (9, None, "Waco") in _rows(engine.sql("SELECT * FROM inv"))


def test_insert_column_list_unknown_column_rejected(engine):
    with pytest.raises(ValueError, match="unknown columns"):
        engine.sql("INSERT INTO inv (k, nope) VALUES (9, 'x')")


def test_insert_column_list_arity_mismatch_rejected(engine):
    with pytest.raises(ValueError, match="source columns"):
        engine.sql("INSERT INTO inv (k, qty, city) SELECT k, qty FROM inv")


def test_dml_subqueries_with_database_qualified_tables(engine):
    """Round-5 DML subquery resolution must also cover db-qualified
    names (rewritten to the registered view spelling inside the
    predicate text)."""
    engine.sql("CREATE DATABASE qdb")
    engine.sql("CREATE TABLE qdb.t (k INT, v INT)")
    engine.sql("CREATE TABLE qdb.s (k INT)")
    engine.sql("INSERT INTO qdb.t VALUES (1, 10), (2, 20), (3, 30)")
    engine.sql("INSERT INTO qdb.s VALUES (1), (3)")
    engine.sql("DELETE FROM qdb.t WHERE k IN (SELECT k FROM qdb.s)")
    rows = [(r.k, r.v) for r in engine.sql("SELECT * FROM qdb.t").collect()]
    assert rows == [(2, 20)]
    engine.sql("UPDATE qdb.t SET v = (SELECT max(k) FROM qdb.s) WHERE k = 2")
    assert engine.sql("SELECT v FROM qdb.t").collect()[0].v == 3


def test_dml_subquery_registers_only_what_it_reads(engine, monkeypatch):
    """A DELETE's subquery loads only the tables its parse names, into
    the statement's own session: the engine session gains no temp view
    that a later commit could leave stale."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    engine.sql("CREATE TABLE claims (claim_id INT, patient_id INT)")
    engine.sql("CREATE TABLE patients (patient_id INT, claim_id INT, amount INT)")
    engine.sql("CREATE TABLE providers (k INT)")
    engine.sql("CREATE TABLE visits (k INT)")
    engine.sql("INSERT INTO claims VALUES (1, 10), (2, 20), (3, 30)")
    engine.sql("INSERT INTO patients VALUES (10, 1, 9), (20, 2, 1)")
    calls, read = [], Warehouse.read_table

    def spy(self, name, *args, **kwargs):
        calls.append(name)
        return read(self, name, *args, **kwargs)

    def temp_views():
        return {t.name for t in engine.spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    monkeypatch.setattr(Warehouse, "read_table", spy)
    engine.sql(
        "DELETE FROM claims WHERE claim_id IN (SELECT claim_id FROM patients WHERE amount > 5)"
    )
    assert calls == ["patients"]
    assert temp_views() == before
    monkeypatch.undo()
    assert _rows(engine.sql("SELECT claim_id FROM claims")) == [(2,), (3,)]
    engine.sql("INSERT INTO patients VALUES (30, 3, 7)")
    assert engine.sql("SELECT count(*) FROM patients").collect()[0][0] == 3
    assert temp_views() == before


def test_dml_follows_the_callers_sql_conf(spark, tmp_path):
    """A caller-provided engine session's SQL conf applies to DML and
    reads, though each statement runs in a session of its own: a DELETE
    predicate compares timestamps in the caller's time zone."""
    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    e = FgacEngine(caller, str(tmp_path / "tzwh"))
    e.sql("CREATE TABLE ev (k INT, ts TIMESTAMP)")
    # 2024-01-01 04:00 and 12:00 UTC: 2023-12-31 20:00 and 2024-01-01
    # 04:00 in Los Angeles
    e.sql("INSERT INTO ev SELECT 1, timestamp_seconds(1704081600)")
    e.sql("INSERT INTO ev SELECT 2, timestamp_seconds(1704110400)")
    assert _rows(e.sql("SELECT k FROM ev WHERE ts < '2024-01-01 00:00:00'")) == [(1,)]
    e.sql("DELETE FROM ev WHERE ts < '2024-01-01 00:00:00'")
    assert _rows(e.sql("SELECT k, hour(ts) FROM ev")) == [(2, 4)]
