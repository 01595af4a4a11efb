"""Row-level write modes: ``write.delete.mode``, ``write.update.mode``
and ``write.merge.mode`` take 'copy-on-write' or 'merge-on-read' only,
however the property is written (CREATE TABLE … TBLPROPERTIES, CREATE
OR REPLACE, ALTER TABLE … SET TBLPROPERTIES, Warehouse.set_properties).
A misspelt mode such as 'merge_on_read' would otherwise be stored and
then silently run copy-on-write."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine

KEYS = ("write.delete.mode", "write.update.mode", "write.merge.mode")


@pytest.fixture()
def engine(spark, tmp_path):
    return FgacEngine(spark, str(tmp_path / "wh"))


def _props(engine, name):
    return dict(engine.warehouse._read_meta(name).properties)


def _statement_mode(engine, key):
    """Run the statement ``key`` governs on table t; its result names
    the write mode it ran under."""
    wh = engine.warehouse
    wh.insert_values("t", [(1, 10), (2, 20)])
    if key == "write.delete.mode":
        stats = wh.delete_from("t", "k = 1")
    elif key == "write.update.mode":
        stats = wh.update_where("t", {"v": "v + 1"}, "k = 1")
    else:
        src = wh.spark.createDataFrame([(1, 11)], "k int, v int")
        stats = wh.merge_into("t", src, "t.k = s.k", matched_update={"v": "s.v"})
    return stats.get("mode", "copy-on-write")


@pytest.mark.parametrize("key", KEYS)
def test_create_table_validates_write_mode(engine, key):
    with pytest.raises(ValueError, match="merge-on-read"):
        engine.sql(
            f"CREATE TABLE t (k INT, v INT) TBLPROPERTIES ('{key}'='merge_on_read')"
        )
    assert not engine.warehouse.table_exists("t")
    engine.sql(f"CREATE TABLE t (k INT, v INT) TBLPROPERTIES ('{key}'='merge-on-read')")
    assert _props(engine, "t")[key] == "merge-on-read"
    assert _statement_mode(engine, key) == "merge-on-read"


@pytest.mark.parametrize("key", KEYS)
def test_create_or_replace_validates_before_dropping(engine, key):
    engine.sql("CREATE TABLE t (k INT, v INT)")
    engine.sql("INSERT INTO t VALUES (7, 70)")
    before = _props(engine, "t")
    with pytest.raises(ValueError, match="merge-on-read"):
        engine.sql(
            f"CREATE OR REPLACE TABLE t (k INT, v INT) TBLPROPERTIES ('{key}'='mor')"
        )
    assert _props(engine, "t") == before
    assert [tuple(r) for r in engine.warehouse.read_table("t").collect()] == [(7, 70)]


@pytest.mark.parametrize("key", KEYS)
def test_alter_table_validates_write_mode(engine, key):
    engine.sql("CREATE TABLE t (k INT, v INT)")
    before = _props(engine, "t")
    with pytest.raises(ValueError, match="merge-on-read"):
        engine.sql(
            "ALTER TABLE t SET TBLPROPERTIES "
            f"('write.target-file-size-bytes'='4096', '{key}'='merge_on_read')"
        )
    assert _props(engine, "t") == before
    engine.sql(f"ALTER TABLE t SET TBLPROPERTIES ('{key}'='merge-on-read')")
    assert _props(engine, "t")[key] == "merge-on-read"
    assert _statement_mode(engine, key) == "merge-on-read"


def test_set_properties_validates_every_mode(engine):
    wh = engine.warehouse
    wh.create_table("t", "k int, v int")
    before = _props(engine, "t")
    for key in KEYS:
        with pytest.raises(ValueError, match="merge-on-read"):
            wh.set_properties(
                "t", {"write.target-file-size-bytes": "4096", key: "Merge-On-Read"}
            )
        with pytest.raises(ValueError, match="merge-on-read"):
            wh.set_delete_mode("t", "merge_on_read")
    assert _props(engine, "t") == before
    wh.set_properties("t", {k: "merge-on-read" for k in KEYS})
    assert all(_props(engine, "t")[k] == "merge-on-read" for k in KEYS)
