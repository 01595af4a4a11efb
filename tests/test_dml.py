"""Row-level DML (copy-on-write), schema evolution, and table
maintenance — the Iceberg capability set the reference's storage layer
carries (its tables are Iceberg: producer_account_setup/
producer_iceberg_datalake_setup.sh:116-131 creates them with
table_type=ICEBERG, whose engine-side contract includes UPDATE/DELETE/
MERGE, ALTER TABLE evolution, expire_snapshots and rewrite_data_files).

The scale contract under test: DML rewrites ONLY the data files that
contain matched rows (file-granular CoW), old snapshots keep reading
the pre-DML files, and maintenance physically reclaims only files no
retained snapshot references.
"""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
    MergeCardinalityError,
    SnapshotNotFoundError,
    Warehouse,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------- DELETE
def test_delete_rewrites_only_matched_files(wh):
    wh.create_table("t", "k int, city string", partition_by=["city"])
    wh.insert_values("t", [(1, "Austin"), (2, "Dallas")])
    wh.insert_values("t", [(3, "Austin"), (4, "Dallas")])
    files_before = wh._data_files("t")
    stats = wh.delete_from("t", "city = 'Austin' AND k > 1")
    assert stats["deleted_rows"] == 1
    # only the Austin file containing k=3 was rewritten
    assert stats["rewritten_files"] == 1
    assert _rows(wh.read_table("t")) == [(1, "Austin"), (2, "Dallas"), (4, "Dallas")]
    # untouched files are shared, not rewritten
    live_now = wh._live_files(wh._read_meta("t"))
    assert len(files_before & live_now) == len(files_before) - 1
    # pre-delete snapshot still reads the deleted row (time travel)
    assert _rows(wh.read_table("t", snapshot_id=2)) == [
        (1, "Austin"), (2, "Dallas"), (3, "Austin"), (4, "Dallas"),
    ]
    assert wh.snapshots("t")[-1]["operation"] == "delete"
    assert wh.snapshots("t")[-1]["removed_files"]


def test_delete_null_predicate_keeps_row(wh):
    wh.create_table("t", "k int, v string")
    wh.insert_values("t", [(1, None), (2, "x")])
    stats = wh.delete_from("t", "v = 'x'")
    assert stats["deleted_rows"] == 1
    # NULL predicate result is not a match — row 1 survives
    assert _rows(wh.read_table("t")) == [(1, None)]


def test_delete_no_match_commits_nothing(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    stats = wh.delete_from("t", "k = 99")
    assert stats == {"deleted_rows": 0, "rewritten_files": 0}
    assert len(wh.snapshots("t")) == 1  # no empty snapshot


# ------------------------------------------------------------- UPDATE
def test_update_expression_over_row(wh):
    wh.create_table("t", "k int, amount decimal(10,2), status string")
    wh.insert_values("t", [(1, None, "Pending"), (2, None, "Approved")])
    wh.update_where(
        "t",
        {"amount": "CAST(k * 10 AS DECIMAL(10,2))", "status": "upper(status)"},
        "status = 'Pending'",
    )
    assert _rows(wh.read_table("t").selectExpr("k", "CAST(amount AS STRING)", "status")) == [
        (1, "10.00", "PENDING"),
        (2, None, "Approved"),
    ]
    assert wh.snapshots("t")[-1]["operation"] == "update"


def test_update_unknown_column_raises(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    with pytest.raises(Exception, match="unknown column"):
        wh.update_where("t", {"nope": "1"}, None)


# -------------------------------------------------------------- MERGE
def test_merge_upsert(wh):
    wh.create_table("t", "k int, v string")
    wh.insert_values("t", [(1, "a"), (2, "b")])
    src = wh.spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    stats = wh.merge_into(
        "t", src, "t.k = s.k",
        matched_update={"v": "s.v"}, not_matched_insert=True,
    )
    assert stats["updated_rows"] == 1 and stats["inserted_rows"] == 1
    assert _rows(wh.read_table("t")) == [(1, "a"), (2, "B"), (3, "c")]
    assert wh.snapshots("t")[-1]["operation"] == "merge"


def test_merge_matched_delete(wh):
    wh.create_table("t", "k int, v string")
    wh.insert_values("t", [(1, "a"), (2, "b")])
    src = wh.spark.createDataFrame([(1,)], "k int")
    stats = wh.merge_into(
        "t", src, "t.k = s.k", matched_delete=True, not_matched_insert=False,
    )
    assert stats["deleted_rows"] == 1 and stats["inserted_rows"] == 0
    assert _rows(wh.read_table("t")) == [(2, "b")]


def test_merge_cardinality_violation(wh):
    wh.create_table("t", "k int, v string")
    wh.insert_values("t", [(1, "a")])
    src = wh.spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string")
    with pytest.raises(MergeCardinalityError):
        wh.merge_into("t", src, "t.k = s.k", matched_update={"v": "s.v"})


def test_merge_into_empty_table_inserts(wh):
    wh.create_table("t", "k int, v string")
    src = wh.spark.createDataFrame([(1, "a")], "k int, v string")
    stats = wh.merge_into("t", src, "t.k = s.k", matched_update={"v": "s.v"})
    assert stats["inserted_rows"] == 1
    assert _rows(wh.read_table("t")) == [(1, "a")]


def test_merge_insert_with_expressions(wh):
    wh.create_table("t", "k int, v string, src string")
    wh.insert_values("t", [(1, "a", "init")])
    src = wh.spark.createDataFrame([(5, "e")], "k int, v string")
    wh.merge_into(
        "t", src, "t.k = s.k",
        not_matched_insert={"k": "s.k", "v": "upper(s.v)", "src": "'merged'"},
    )
    assert _rows(wh.read_table("t")) == [(1, "a", "init"), (5, "E", "merged")]


# ------------------------------------- partition values in file paths
# Spark's _metadata.file_path is a URI: the directory of a partition
# value is percent-encoded (a space as %20, the on-disk %25 escape of a
# '%' as %2525) and a '+' stays as is (url_decode alone would read it as
# a space).
ODD_CITIES = ("New York", "a%b", "c+d", "plain")


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
@pytest.mark.parametrize("op", ["delete", "delete-keyed", "update", "merge"])
def test_row_level_writes_name_files_in_encoded_partitions(wh, op, mode):
    """DELETE (also with identifier fields, whose merge-on-read form
    writes equality deletes), UPDATE and MERGE under both write modes
    name the files they remove or reference as the snapshot log does,
    whatever the partition value holds: the rows match a Python model
    after two statements and after rewrite_position_delete_files."""
    wh.create_table("pc", "k int, city string", partition_by=["city"])
    if op == "delete-keyed":
        wh.set_identifier_fields("pc", ["k"])
        op = "delete"
    wh.set_properties("pc", {f"write.{op}.mode": mode})
    model = {k: ODD_CITIES[k % 4] for k in range(12)}
    wh.insert_values("pc", sorted(model.items()))
    for step, keys in enumerate(((0, 1, 2), (4, 5, 6, 101))):
        cond = f"k IN ({', '.join(map(str, keys))})"
        hit = [k for k in keys if k in model]
        if op == "delete":
            wh.delete_from("pc", cond)
            for k in hit:
                del model[k]
        elif op == "update":
            wh.update_where("pc", {"k": "k + 100"}, cond)
            for k in hit:
                model[k + 100] = model.pop(k)
        else:
            new = [(60 + 10 * step + i, c) for i, c in enumerate(ODD_CITIES)]
            src = wh.spark.createDataFrame(
                [(k, "x") for k in keys] + new, "k int, city string"
            )
            wh.merge_into("pc", src, "t.k = s.k", matched_update={"k": "s.k + 100"})
            for k in hit:
                model[k + 100] = model.pop(k)
            model.update(new)
        assert _rows(wh.read_table("pc")) == sorted(model.items())
    wh.rewrite_position_delete_files("pc")
    assert _rows(wh.read_table("pc")) == sorted(model.items())


# --------------------------------------------------- schema evolution
def test_add_column_null_fills_old_files(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    wh.add_columns("t", "v string, score double")
    wh.insert_values("t", [(2, "b", 0.5)])
    assert _rows(wh.read_table("t")) == [(1, None, None), (2, "b", 0.5)]
    # snapshot read before the ALTER resolves against current schema too
    assert _rows(wh.read_table("t", snapshot_id=1)) == [(1, None, None)]


def test_drop_column_projected_away(wh):
    wh.create_table("t", "k int, v string")
    wh.insert_values("t", [(1, "a")])
    wh.drop_column("t", "v")
    assert wh.read_table("t").columns == ["k"]
    wh.insert_values("t", [(2,)])
    assert _rows(wh.read_table("t")) == [(1,), (2,)]


def test_rename_column_resolves_old_and_new_files(wh):
    wh.create_table("t", "k int, v string")
    wh.insert_values("t", [(1, "a")])
    wh.rename_column("t", "v", "val")
    wh.insert_values("t", [(2, "b")])
    assert wh.read_table("t").columns == ["k", "val"]
    assert _rows(wh.read_table("t")) == [(1, "a"), (2, "b")]
    # DML after a rename still resolves both physical layouts
    wh.update_where("t", {"val": "upper(val)"}, "k = 1")
    assert _rows(wh.read_table("t")) == [(1, "A"), (2, "b")]


def test_alter_guards(wh):
    wh.create_table("t", "k int, city string", partition_by=["city"])
    with pytest.raises(ValueError):
        wh.drop_column("t", "city")
    with pytest.raises(ValueError):
        wh.rename_column("t", "city", "town")
    with pytest.raises(ValueError):
        wh.add_columns("t", "k string")


# -------------------------------------------------------- maintenance
def test_expire_snapshots_reclaims_files(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    wh.insert_values("t", [(2,)])
    wh.delete_from("t", "k = 1")          # snapshot 3 removes a file
    n_files_before = len(wh._data_files("t"))
    stats = wh.expire_snapshots("t", keep_last=1)
    assert stats["expired_snapshots"] == 2
    # the file holding only k=1 is no longer referenced → reclaimed
    assert stats["deleted_files"] >= 1
    assert len(wh._data_files("t")) < n_files_before
    assert _rows(wh.read_table("t")) == [(2,)]
    with pytest.raises(SnapshotNotFoundError):
        wh.read_table("t", snapshot_id=1)


def test_expire_retains_referenced_history(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    wh.insert_values("t", [(2,)])
    wh.expire_snapshots("t", keep_last=2)  # nothing to expire
    assert len(wh.snapshots("t")) == 2
    assert _rows(wh.read_table("t", snapshot_id=1)) == [(1,)]


def test_compact_reduces_file_count_preserves_rows(wh):
    wh.create_table("t", "k int, city string", partition_by=["city"])
    for i in range(4):
        wh.insert_values("t", [(i, "Austin"), (i + 100, "Dallas")])
    before = wh._live_files(wh._read_meta("t"))
    assert len(before) == 8
    stats = wh.compact_table("t")
    after = wh._live_files(wh._read_meta("t"))
    assert stats["rewritten_files"] == 8
    assert len(after) < len(before)
    assert _rows(wh.read_table("t")) == sorted(
        [(i, "Austin") for i in range(4)] + [(i + 100, "Dallas") for i in range(4)]
    )
    # pre-compaction snapshot still readable (history preserved)
    assert len(_rows(wh.read_table("t", snapshot_id=1))) == 2
    assert wh.snapshots("t")[-1]["operation"] == "replace"


# ------------------------------------------------- partition evolution
def test_partition_evolution_mixed_layout_reads(wh):
    wh.create_table("t", "k int, city string, status string", partition_by=["city"])
    wh.insert_values("t", [(1, "Austin", "open"), (2, "Dallas", "open")])
    wh.alter_partition_spec("t", ["status"])
    wh.insert_values("t", [(3, "Austin", "closed")])
    # mixed layouts read as one table, every column correct
    assert _rows(wh.read_table("t")) == [
        (1, "Austin", "open"), (2, "Dallas", "open"), (3, "Austin", "closed"),
    ]
    # new files landed under the new spec's directories
    import os
    dirs = set(os.listdir(wh.data_dir("t")))
    assert any(d.startswith("city=") for d in dirs)
    assert any(d.startswith("status=") for d in dirs)


def test_partition_evolution_dml_migrates_rewritten_rows(wh):
    wh.create_table("t", "k int, city string", partition_by=["city"])
    wh.insert_values("t", [(1, "Austin"), (2, "Dallas")])
    wh.alter_partition_spec("t", [])
    wh.update_where("t", {"k": "k + 10"}, "city = 'Austin'")
    assert _rows(wh.read_table("t")) == [(2, "Dallas"), (11, "Austin")]
    # time travel across the spec change still works
    assert _rows(wh.read_table("t", snapshot_id=1)) == [(1, "Austin"), (2, "Dallas")]


def test_partition_evolution_compaction_unifies_spec(wh):
    wh.create_table("t", "k int, city string", partition_by=["city"])
    wh.insert_values("t", [(1, "Austin"), (2, "Dallas")])
    wh.alter_partition_spec("t", [])
    wh.insert_values("t", [(3, "Austin")])
    wh.compact_table("t")
    # all live files now under the current (unpartitioned) spec
    meta = wh._read_meta("t")
    specs = wh._file_specs(meta)
    assert {specs[f] for f in wh._live_files(meta)} == {()}
    assert _rows(wh.read_table("t")) == [(1, "Austin"), (2, "Dallas"), (3, "Austin")]


def test_partition_evolution_sql_surface(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine

    e = FgacEngine(spark, str(tmp_path / "wh2"))
    e.sql("CREATE TABLE t (k INT, city STRING) PARTITIONED BY (city)")
    e.sql("INSERT INTO t VALUES (1, 'Austin')")
    e.sql("ALTER TABLE t PARTITIONED BY ()")
    e.sql("INSERT INTO t VALUES (2, 'Dallas')")
    assert sorted(tuple(r) for r in e.sql("SELECT * FROM t").collect()) == [
        (1, "Austin"), (2, "Dallas"),
    ]


# --------------------------------------------------------- named refs
def test_tags_and_branches(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    wh.create_tag("t", "v1.0")
    wh.create_branch("t", "audit")
    wh.insert_values("t", [(2,)])
    wh.delete_from("t", "k = 1")
    # tag pins the original state; branch lags until fast-forwarded
    assert _rows(wh.read_table("t", ref="v1.0")) == [(1,)]
    assert _rows(wh.read_table("t", ref="audit")) == [(1,)]
    wh.fast_forward("t", "audit")
    assert _rows(wh.read_table("t", ref="audit")) == [(2,)]
    with pytest.raises(ValueError, match="immutable"):
        wh.fast_forward("t", "v1.0")
    with pytest.raises(SnapshotNotFoundError):
        wh.read_table("t", ref="nope")


def test_expire_protects_refs(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    wh.create_tag("t", "keepme")
    wh.insert_values("t", [(2,)])
    wh.delete_from("t", "k = 1")
    stats = wh.expire_snapshots("t", keep_last=1)
    # the tagged snapshot (and everything after) survives
    assert stats["expired_snapshots"] == 0
    assert _rows(wh.read_table("t", ref="keepme")) == [(1,)]
    # dropping the ref releases the history
    wh.drop_ref("t", "keepme")
    stats = wh.expire_snapshots("t", keep_last=1)
    assert stats["expired_snapshots"] == 2 and stats["deleted_files"] >= 1
    assert _rows(wh.read_table("t")) == [(2,)]


def test_ref_sql_spelling(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine

    e = FgacEngine(spark, str(tmp_path / "whr"))
    e.sql("CREATE TABLE t (k INT)")
    e.sql("INSERT INTO t VALUES (1)")
    e.warehouse.create_tag("t", "launch")
    e.sql("INSERT INTO t VALUES (2)")
    assert sorted(r.k for r in e.sql("SELECT k FROM t").collect()) == [1, 2]
    assert [r.k for r in e.sql("SELECT k FROM t VERSION AS OF 'launch'").collect()] == [1]


# ----------------------------------------------------- concurrency
def test_concurrent_appends_lose_no_snapshots(wh):
    """Six threads commit appends to one table concurrently; the
    per-table commit lock (Iceberg's linearized metadata swap) must
    keep every snapshot — no lost updates, no absorbed file diffs."""
    import threading

    wh.create_table("t", "k int, worker int")
    errors = []

    def append(w):
        try:
            wh.insert_values("t", [(i, w) for i in range(3)])
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=append, args=(w,)) for w in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    snaps = wh.snapshots("t")
    assert len(snaps) == 6
    assert [s["sequence_number"] for s in snaps] == list(range(1, 7))
    # every snapshot's file diff is its own: 18 rows total, 3 per worker
    assert wh.read_table("t").count() == 18
    assert sum(s["added_records"] for s in snaps) == 18
    per_worker = {
        r.worker: r.n
        for r in wh.read_table("t").groupBy("worker").count().withColumnRenamed("count", "n").collect()
    }
    assert per_worker == {w: 3 for w in range(6)}


def test_writes_through_resource_link_reach_target(wh):
    """Glue resource links are write-through: INSERT / overwrite /
    compaction via the link land in the linked table (reads already
    delegate, so link and target must agree — previously a link write
    silently vanished into the alias's own directory)."""
    wh.create_table("t", "k int")
    wh.create_resource_link("l", "t")
    wh.insert_values("l", [(7,)])
    assert _rows(wh.read_table("l")) == [(7,)]
    assert _rows(wh.read_table("t")) == [(7,)]
    df = wh.spark.createDataFrame([(8,)], "k int")
    wh.insert_overwrite("l", df, dynamic=False)
    assert _rows(wh.read_table("t")) == [(8,)]
    # maintenance through the link operates on the target too
    wh.insert_values("l", [(9,)])
    stats = wh.compact_table("l", target_file_bytes=1)
    assert stats["rewritten_files"] > 0
    assert _rows(wh.read_table("t")) == [(8,), (9,)]
    assert wh.snapshots("t")[-1]["operation"] == "replace"


def test_maintenance_and_evolution_through_link_affect_target(wh):
    wh.create_table("t", "k int")
    wh.create_resource_link("l", "t")
    wh.insert_values("l", [(1,)])
    wh.insert_values("l", [(2,)])
    # schema evolution via link lands on the target (not a diverging copy)
    wh.add_columns("l", "extra string")
    assert "extra" in [f.name for f in wh.schema_of("t").fields]
    # refs + time travel via link resolve to the target's snapshot log
    wh.create_tag("l", "v1")
    assert _rows(wh.read_table("t", ref="v1")) == [(1, None), (2, None)]
    # expiry via link drops the target's history
    out = wh.expire_snapshots("l", keep_last=1)
    assert out["expired_snapshots"] >= 0
    assert len(wh.snapshots("t")) >= 1


def test_concurrent_overwrite_and_insert_linearizable(spark, tmp_path):
    """Regression for the round-4 lock fix: a static INSERT OVERWRITE
    racing a concurrent INSERT must serialize to one of the two valid
    histories — insert-then-overwrite (overwrite retires the inserted
    rows) or overwrite-then-insert (both survive). The pre-fix bug
    produced a third, invalid history: overwrite computed its retired
    file set from a stale snapshot and the concurrent batch leaked
    through a 'replace everything' overwrite undetected... while still
    claiming full replacement."""
    import threading

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    for trial in range(3):
        wh = Warehouse(spark, str(tmp_path / f"wh{trial}"))
        wh.create_table("t", "k int")
        wh.insert_values("t", [(1,), (2,)])
        barrier = threading.Barrier(2)
        errs = []

        def overwrite():
            try:
                barrier.wait()
                wh.insert_overwrite(
                    "t", spark.createDataFrame([(100,)], "k int"), dynamic=False
                )
            except Exception as e:  # pragma: no cover
                errs.append(e)

        def insert():
            try:
                barrier.wait()
                wh.insert_values("t", [(50,)])
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [threading.Thread(target=overwrite), threading.Thread(target=insert)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        rows = sorted(r.k for r in wh.read_table("t").collect())
        assert rows in ([100], [50, 100]), (
            f"trial {trial}: invalid serialization {rows} — "
            "a concurrent batch leaked through the overwrite"
        )


# ------------------------------------------- ALTER COLUMN TYPE (round 5)
def test_alter_column_type_widens_across_old_files(spark, tmp_path):
    """Iceberg's legal type promotions, metadata-only: files written
    under the narrow type stay on disk and widen at read time (the
    merged reader schema + Spark 4 parquet widening promotion)."""
    from decimal import Decimal

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("wt", "k int, r float, amt decimal(6,2), tag string")
    wh.insert_values("wt", [(1, 1.5, Decimal("12.34"), "old")])
    wh.alter_column_type("wt", "k", "bigint")
    wh.alter_column_type("wt", "r", "double")
    wh.alter_column_type("wt", "amt", "decimal(12,2)")
    # post-widening insert carries the wide types; both generations read
    wh.insert_values("wt", [(2**40, 2.5, Decimal("9999999999.99"), "new")])
    rows = sorted(wh.read_table("wt").collect(), key=lambda r: r.k)
    assert [r.k for r in rows] == [1, 2**40]
    assert rows[0].r == 1.5 and rows[0].amt == Decimal("12.34")
    assert rows[1].amt == Decimal("9999999999.99")
    sch = {f.name: f.dataType.simpleString() for f in wh.schema_of("wt").fields}
    assert sch == {
        "k": "bigint", "r": "double", "amt": "decimal(12,2)", "tag": "string",
    }
    # narrowing and cross-family changes refuse
    with pytest.raises(ValueError, match="widening"):
        wh.alter_column_type("wt", "k", "int")
    with pytest.raises(ValueError, match="widening"):
        wh.alter_column_type("wt", "tag", "int")
    with pytest.raises(ValueError, match="widening"):
        wh.alter_column_type("wt", "amt", "decimal(12,4)")  # scale change


def test_alter_column_type_sql_and_dml_still_work(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine

    e = FgacEngine(spark, str(tmp_path / "wh"))
    e.sql("CREATE TABLE awt (k INT, v INT) PARTITIONED BY (v)")
    e.sql("INSERT INTO awt VALUES (1, 10), (2, 20)")
    e.sql("ALTER TABLE awt ALTER COLUMN k TYPE BIGINT")
    e.sql("INSERT INTO awt VALUES (4294967296, 10)")
    # partitioned read across generations: partition values survive the
    # explicit reader schema; DML over the widened column works
    e.sql("DELETE FROM awt WHERE k = 2")
    rows = sorted(
        (r.k, r.v) for r in e.sql("SELECT k, v FROM awt").collect()
    )
    assert rows == [(1, 10), (4294967296, 10)]
    with pytest.raises(ValueError, match="partition column"):
        e.sql("ALTER TABLE awt ALTER COLUMN v TYPE BIGINT")
