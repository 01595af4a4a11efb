"""Iceberg stored procedures through the SQL frontend:
`CALL [catalog.]system.<proc>(...)` — the Spark-SQL maintenance
surface over the warehouse API (expire_snapshots, remove_orphan_files,
rollback_to_snapshot, cherrypick_snapshot, fast_forward,
rewrite_data_files), with positional and named-argument spellings."""

import os

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend


@pytest.fixture()
def fe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    return SqlFrontend(spark, wh)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_call_expire_snapshots_retain_last(fe):
    fe.execute("CREATE TABLE t (k INT)")
    for i in range(3):
        fe.execute(f"INSERT INTO t VALUES ({i})")
    out = fe.execute("CALL system.expire_snapshots(table => 't', retain_last => 1)")
    row = out.collect()[0]
    assert row["expired_snapshots"] == 2
    assert len(fe.warehouse.snapshots("t")) == 1
    assert _rows(fe.execute("SELECT * FROM t")) == [(0,), (1,), (2,)]


def test_call_remove_orphan_files(fe, tmp_path):
    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("INSERT INTO t VALUES (1)")
    orphan = os.path.join(fe.warehouse.data_dir("t"), "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    out = fe.execute("CALL system.remove_orphan_files('t')")
    assert out.collect()[0]["orphan_file_location_count"] == 1
    assert not os.path.exists(orphan)
    assert _rows(fe.execute("SELECT * FROM t")) == [(1,)]


def test_call_rollback_to_snapshot(fe):
    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("INSERT INTO t VALUES (1)")
    sid = fe.warehouse.current_snapshot_id("t")
    fe.execute("INSERT INTO t VALUES (2)")
    out = fe.execute(f"CALL system.rollback_to_snapshot('t', {sid})")
    assert out.collect()[0]["previous_snapshot_id"] != sid
    assert _rows(fe.execute("SELECT * FROM t")) == [(1,)]


def test_call_rewrite_data_files_zorder(fe):
    fe.execute("CREATE TABLE t (a INT, b INT)")
    for i in range(3):
        fe.execute(
            "INSERT INTO t VALUES "
            + ",".join(f"({j},{(j * 7) % 32})" for j in range(i * 50, i * 50 + 50))
        )
    out = fe.execute(
        "CALL system.rewrite_data_files(table => 't', strategy => 'sort', "
        "sort_order => 'zorder(a, b)')"
    )
    row = out.collect()[0]
    assert row["rewritten_data_files_count"] > 0
    assert row["added_data_files_count"] >= 1
    assert fe.warehouse.snapshots("t")[-1]["operation"] == "replace"
    assert len(_rows(fe.execute("SELECT * FROM t"))) == 150


def test_call_unknown_procedure_raises(fe):
    fe.execute("CREATE TABLE t (k INT)")
    with pytest.raises(ValueError, match="Unknown procedure"):
        fe.execute("CALL system.shrink_ray('t')")


def test_call_cherrypick_snapshot_publishes_staged(fe):
    fe.execute("CREATE TABLE t (k INT, v STRING)")
    fe.execute("INSERT INTO t VALUES (1, 'live')")
    wh = fe.warehouse
    staged = wh.spark.createDataFrame([(2, "staged")], wh.schema_of("t"))
    sid = wh.insert_into("t", staged, staged=True)
    assert _rows(fe.execute("SELECT * FROM t")) == [(1, "live")]
    out = fe.execute(f"CALL system.cherrypick_snapshot('t', {sid})")
    row = out.collect()[0]
    assert row["source_snapshot_id"] == sid
    assert row["current_snapshot_id"] == wh.current_snapshot_id("t")
    assert _rows(fe.execute("SELECT * FROM t")) == [(1, "live"), (2, "staged")]


def test_call_fast_forward_branch(fe):
    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("INSERT INTO t VALUES (1)")
    fe.warehouse.create_branch("t", "audit")
    fe.execute("INSERT INTO t VALUES (2)")
    assert _rows(fe.warehouse.read_table("t", ref="audit")) == [(1,)]
    out = fe.execute("CALL system.fast_forward(table => 't', branch => 'audit')")
    assert out.collect()[0]["branch_updated"] == "audit"
    assert _rows(fe.warehouse.read_table("t", ref="audit")) == [(1,), (2,)]


def test_describe_extended_and_show_create(fe):
    fe.execute(
        "CREATE TABLE t (k BIGINT, city STRING) PARTITIONED BY (city)"
    )
    fe.execute("INSERT INTO t VALUES (1, 'Austin')")
    ext = {r.col_name: r.data_type for r in fe.execute("DESCRIBE EXTENDED t").collect()}
    assert ext["k"] == "bigint"
    assert ext["Partition Spec"] == "city"
    assert ext["Current Snapshot"] == "1"
    stmt = fe.execute("SHOW CREATE TABLE t").collect()[0]["createtab_stmt"]
    assert "CREATE TABLE t" in stmt
    assert "k BIGINT" in stmt and "PARTITIONED BY (city)" in stmt


def test_analyze_table_statistics(fe):
    fe.execute("CREATE TABLE t (k BIGINT, v STRING)")
    fe.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, NULL)")
    out = {
        r.key: r.value
        for r in fe.execute(
            "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS k, v"
        ).collect()
    }
    assert out["stats.row_count"] == "3"
    assert out["stats.col.k.min"] == "1" and out["stats.col.k.max"] == "3"
    assert out["stats.col.v.null_count"] == "1"
    assert int(out["stats.col.k.ndv"]) == 3
    # stats persist into properties -> DESCRIBE EXTENDED shows them
    ext = {r.col_name: r.data_type for r in fe.execute("DESCRIBE EXTENDED t").collect()}
    assert ext["Property: stats.row_count"] == "3"
    # re-analyze after DML refreshes, does not accumulate stale keys
    fe.execute("DELETE FROM t WHERE k = 1")
    out2 = {
        r.key: r.value
        for r in fe.execute("ANALYZE TABLE t COMPUTE STATISTICS").collect()
    }
    assert out2["stats.row_count"] == "2"
    assert not any(k.startswith("stats.col.") for k in out2)


def test_call_rewrite_position_delete_files(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine

    eng = FgacEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE TABLE t (k INT, v STRING)")
    wh = eng.warehouse
    wh.set_delete_mode("t", "merge-on-read")
    eng.sql("INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    eng.sql("DELETE FROM t WHERE k = 1")
    eng.sql("DELETE FROM t WHERE k = 3")
    row = eng.sql(
        "CALL system.rewrite_position_delete_files(table => 't')"
    ).collect()[0]
    assert row.rewritten_delete_files_count == 2
    assert row.added_delete_files_count >= 1
    assert row.remaining_position_deletes == 2
    got = sorted(r.k for r in wh.read_table("t").collect())
    assert got == [2, 4]


# --------------------------------- create_changelog_view (round 10)
def _cdc_table(fe, spark):
    """The cdc_compute_updates fixture shape: MoR merge table with a
    delete+update+insert MERGE on top of a 3-row base."""
    wh = fe.warehouse
    wh.create_table("t", "id bigint, val string, amt bigint")
    with wh._table_lock("t"):
        meta = wh._read_meta("t")
        meta.properties["write.merge.mode"] = "merge-on-read"
        meta.properties["write.delete.mode"] = "merge-on-read"
        wh._write_meta(meta)
    wh.set_identifier_fields("t", ["id"])
    wh.insert_values("t", [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    s1 = wh.current_snapshot_id("t")
    src = spark.createDataFrame(
        [(2, "b2", 25, "U"), (3, None, 0, "D"), (4, "d", 40, "I")],
        "id bigint, val string, amt bigint, op string",
    )
    wh.merge_into(
        "t", src, "t.id = s.id",
        matched_clauses=[
            {"action": "delete", "condition": "s.op = 'D'"},
            {"action": "update", "set": {"val": "s.val", "amt": "s.amt"},
             "condition": None},
        ],
        not_matched_clauses=[{"condition": None, "values": True}],
        not_matched_insert=None,
    )
    return s1


def test_call_create_changelog_view_compute_updates(fe, spark):
    """VERDICT r9 task 4: SQL over the created view matches the
    cdc_compute_updates fixture's rows."""
    s1 = _cdc_table(fe, spark)
    out = fe.execute(
        "CALL system.create_changelog_view("
        "table => 't', changelog_view => 'tcl', "
        f"options => map('start-snapshot-id', '{s1}'), "
        "compute_updates => true)"
    )
    assert out.collect()[0]["changelog_view"] == "tcl"
    got = _rows(
        fe.execute("SELECT id, val, _change_type FROM tcl ORDER BY id")
    )
    assert got == [
        (2, "b", "update_before"),
        (2, "b2", "update_after"),
        (3, "c", "delete"),
        (4, "d", "insert"),
    ]
    # aggregates over the view work like any relation
    n = fe.execute(
        "SELECT count(*) AS n FROM tcl WHERE _change_type = 'insert'"
    ).collect()[0]["n"]
    assert n == 1


def test_call_create_changelog_view_defaults_and_net(fe, spark):
    """Default view name <table>_changes; net_changes collapses an
    insert+delete inside the range; view reflects LATER commits (it is
    re-planned per query, like Iceberg's view over the live table)."""
    wh = fe.warehouse
    fe.execute("CREATE TABLE t (k INT, v STRING)")
    wh.set_delete_mode("t", "merge-on-read")
    fe.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    fe.execute("INSERT INTO t VALUES (3, 'c')")
    fe.execute("DELETE FROM t WHERE k = 3")
    out = fe.execute(
        "CALL system.create_changelog_view(table => 't', net_changes => true)"
    )
    assert out.collect()[0]["changelog_view"] == "t_changes"
    got = _rows(fe.execute("SELECT k, v, _change_type FROM t_changes"))
    assert got == [(1, "a", "insert"), (2, "b", "insert")]
    fe.execute("INSERT INTO t VALUES (4, 'd')")
    got = _rows(fe.execute("SELECT k, v, _change_type FROM t_changes"))
    assert (4, "d", "insert") in got


def test_call_create_changelog_view_validation(fe, spark):
    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("CREATE TABLE clash (k INT)")
    with pytest.raises(ValueError):
        fe.execute(
            "CALL system.create_changelog_view("
            "table => 't', changelog_view => 'clash')"
        )
    with pytest.raises(ValueError):
        fe.execute(
            "CALL system.create_changelog_view("
            "table => 't', options => map('bogus-option', '1'))"
        )
    with pytest.raises(ValueError):
        fe.execute(
            "CALL system.create_changelog_view("
            "table => 't', compute_updates => true, net_changes => true)"
        )


# --------------------------------- rewrite_manifests (round 11)
def _avro_files(wh, table):
    mdir = os.path.join(wh.root, table, "metadata")
    return sorted(f for f in os.listdir(mdir) if f.endswith(".avro"))


def test_call_rewrite_manifests_compacts_and_prunes(fe, spark):
    """A streaming-style table (one commit per micro-batch, auto-merge
    threshold held high) accumulates a snap+manifest pair per commit;
    rewrite_manifests collapses the current chain to ONE data manifest
    and, after expiry, prunes every unreachable avro file — while the
    spec-route reader still reproduces the live set."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.avro_io import (
        read_container,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    wh = fe.warehouse
    fe.execute("CREATE TABLE t (k INT, v STRING)")
    fe.execute(
        "ALTER TABLE t SET TBLPROPERTIES "
        "('commit.manifest.min-count-to-merge' = '1000')"
    )
    for i in range(12):
        fe.execute(f"INSERT INTO t VALUES ({i}, 'v{i}')")
    n_before = len(_avro_files(wh, "t"))
    assert n_before >= 24  # 12 manifest lists + 12 delta manifests

    out = fe.execute("CALL system.rewrite_manifests(table => 't')").collect()[0]
    assert out["rewritten_manifests_count"] == 12
    assert out["added_manifests_count"] == 1

    # current list now references exactly one (compacted) data manifest
    sid = wh.current_snapshot_id("t")
    snap = os.path.join(wh.root, "t", "metadata", f"snap-{sid}.avro")
    _, _, manifests = read_container(snap)
    assert len(manifests) == 1 and "-c0-" in manifests[0]["manifest_path"]

    # expire history, rewrite again: the metadata dir physically shrinks
    fe.execute("CALL system.expire_snapshots(table => 't', retain_last => 1)")
    fe.execute("CALL system.rewrite_manifests(table => 't')")
    n_after = len(_avro_files(wh, "t"))
    assert n_after < n_before / 3, (n_before, n_after)

    # the spec-route reader reproduces the live set from what remains
    got = sorted(
        (r["k"], r["v"])
        for r in read_iceberg_table(spark, os.path.join(wh.root, "t")).collect()
    )
    assert got == [(i, f"v{i}") for i in range(12)]
    assert sorted(tuple(r) for r in fe.execute("SELECT * FROM t").collect()) == got


def test_call_rewrite_manifests_preserves_time_travel(fe, spark):
    """Without expiry, rewrite_manifests keeps every retained snapshot's
    manifest list and manifests — time travel still plans."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    wh = fe.warehouse
    fe.execute("CREATE TABLE tt (k INT)")
    fe.execute("INSERT INTO tt VALUES (1)")
    s1 = wh.current_snapshot_id("tt")
    fe.execute("INSERT INTO tt VALUES (2)")
    fe.execute("CALL system.rewrite_manifests(table => 'tt')")
    old = read_iceberg_table(
        spark, os.path.join(wh.root, "tt"), snapshot_id=s1
    )
    assert sorted(r["k"] for r in old.collect()) == [1]
    assert sorted(
        r[0] for r in fe.execute("SELECT k FROM tt VERSION AS OF 1").collect()
    ) == [1]


# --------------------------------- rewrite_data_files where (round 11)
def test_call_rewrite_data_files_where_scopes_to_partition(fe):
    """Predicate-scoped compaction: only the hot partition's files are
    rewritten — the cold partition's physical files stay byte-identical
    — and the table reads the same before and after."""
    wh = fe.warehouse
    fe.execute(
        "CREATE TABLE t (k INT, city STRING) PARTITIONED BY (city)"
    )
    for i in range(4):
        fe.execute(f"INSERT INTO t VALUES ({i}, 'hot')")
    fe.execute("INSERT INTO t VALUES (100, 'cold'), (101, 'cold')")
    before = sorted(wh._live_files(wh._read_meta("t")))
    cold_before = [f for f in before if "city=cold" in f]
    hot_before = [f for f in before if "city=hot" in f]
    assert len(hot_before) == 4

    out = fe.execute(
        "CALL system.rewrite_data_files(table => 't', "
        "where => \"city = 'hot'\")"
    ).collect()[0]
    assert out["rewritten_data_files_count"] == 4
    after = sorted(wh._live_files(wh._read_meta("t")))
    cold_after = [f for f in after if "city=cold" in f]
    hot_after = [f for f in after if "city=hot" in f]
    assert cold_after == cold_before  # untouched
    assert set(hot_after).isdisjoint(hot_before) and len(hot_after) < 4
    got = sorted(tuple(r) for r in fe.execute("SELECT * FROM t").collect())
    assert got == [(0, "hot"), (1, "hot"), (2, "hot"), (3, "hot"),
                   (100, "cold"), (101, "cold")]


def test_call_rewrite_data_files_where_keeps_deletes_for_cold_files(fe):
    """A scoped rewrite must NOT drop live delete files: deletes on
    files outside the scope still apply afterwards, while the rewritten
    rows have them materialized."""
    wh = fe.warehouse
    fe.execute("CREATE TABLE t (k INT, city STRING) PARTITIONED BY (city)")
    wh.set_delete_mode("t", "merge-on-read")
    fe.execute("INSERT INTO t VALUES (1, 'hot'), (2, 'hot')")
    fe.execute("INSERT INTO t VALUES (10, 'cold'), (11, 'cold')")
    fe.execute("DELETE FROM t WHERE k = 2")   # positional delete, hot
    fe.execute("DELETE FROM t WHERE k = 11")  # positional delete, cold
    assert len(wh._live_delete_files(wh._read_meta("t"))) == 2
    fe.execute(
        "CALL system.rewrite_data_files(table => 't', "
        "where => \"city = 'hot'\")"
    )
    # both deletes still honored
    got = sorted(tuple(r) for r in fe.execute("SELECT * FROM t").collect())
    assert got == [(1, "hot"), (10, "cold")]
    # the cold delete file is still live (cold data file untouched)
    assert len(wh._live_delete_files(wh._read_meta("t"))) >= 1


def test_rewrite_where_parser_refuses_rich_predicates(fe):
    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("INSERT INTO t VALUES (1)")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Cannot parse"):
        fe.execute(
            "CALL system.rewrite_data_files(table => 't', "
            "where => 'k IN (1, 2)')"
        )


# ------------------------- round-12 procedures: lineage + WAP by id
def test_call_set_current_snapshot_rolls_back_and_forward(fe):
    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("INSERT INTO t VALUES (1)")
    fe.execute("INSERT INTO t VALUES (2)")
    wh = fe.warehouse
    snaps = [s["snapshot_id"] for s in wh.snapshots("t")]
    out = fe.execute(
        f"CALL system.set_current_snapshot(table => 't', "
        f"snapshot_id => {snaps[0]})"
    ).collect()[0]
    assert out["previous_snapshot_id"] == snaps[1]
    assert _rows(fe.execute("SELECT * FROM t")) == [(1,)]
    # roll FORWARD again to the two-row snapshot
    fe.execute(
        f"CALL system.set_current_snapshot(table => 't', "
        f"snapshot_id => {snaps[1]})"
    )
    assert _rows(fe.execute("SELECT * FROM t")) == [(1,), (2,)]


def test_call_rollback_to_timestamp(fe):
    import datetime as dt

    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("INSERT INTO t VALUES (1)")
    wh = fe.warehouse
    first_ts = wh.snapshots("t")[0]["timestamp_ms"]
    fe.execute("INSERT INTO t VALUES (2)")
    # in the session time zone (UTC), not the process's local time
    iso = dt.datetime.fromtimestamp(first_ts / 1000, dt.timezone.utc).replace(tzinfo=None).isoformat()
    out = fe.execute(
        f"CALL system.rollback_to_timestamp(table => 't', "
        f"timestamp => TIMESTAMP '{iso}')"
    ).collect()[0]
    assert out["current_snapshot_id"] > out["previous_snapshot_id"]
    assert _rows(fe.execute("SELECT * FROM t")) == [(1,)]
    # a timestamp before any commit refuses
    with pytest.raises(Exception, match="no snapshot"):
        fe.execute(
            "CALL system.rollback_to_timestamp(table => 't', "
            "timestamp => TIMESTAMP '1990-01-01T00:00:00')"
        )


def test_call_publish_changes_by_wap_id(fe, spark):
    fe.execute("CREATE TABLE t (k INT)")
    fe.execute("INSERT INTO t VALUES (1)")
    wh = fe.warehouse
    staged = wh.insert_into(
        "t", spark.createDataFrame([(2,)], "k int"), wap_id="audit-42"
    )
    assert isinstance(staged, int)
    # invisible until published
    assert _rows(fe.execute("SELECT * FROM t")) == [(1,)]
    out = fe.execute(
        "CALL system.publish_changes(table => 't', wap_id => 'audit-42')"
    ).collect()[0]
    assert out["current_snapshot_id"] > staged
    assert _rows(fe.execute("SELECT * FROM t")) == [(1,), (2,)]
    # double-publish refuses; unknown id refuses
    with pytest.raises(ValueError, match="already published"):
        fe.execute(
            "CALL system.publish_changes(table => 't', wap_id => 'audit-42')"
        )
    with pytest.raises(Exception, match="no staged snapshot"):
        fe.execute(
            "CALL system.publish_changes(table => 't', wap_id => 'nope')"
        )


def test_call_ancestors_of_lineage(fe):
    fe.execute("CREATE TABLE t (k INT)")
    for i in range(3):
        fe.execute(f"INSERT INTO t VALUES ({i})")
    rows = _rows(fe.execute("CALL system.ancestors_of(table => 't')"))
    wh = fe.warehouse
    snaps = [
        (s["snapshot_id"], s["timestamp_ms"]) for s in wh.snapshots("t")
    ]
    assert rows == sorted(snaps)
    # from an older head: only its ancestors
    mid = snaps[1][0]
    rows2 = _rows(
        fe.execute(
            f"CALL system.ancestors_of(table => 't', snapshot_id => {mid})"
        )
    )
    assert rows2 == sorted(snaps[:2])
