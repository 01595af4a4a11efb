"""Snapshot semantics (VERDICT r01 missing #1): every append commits a
manifest-backed snapshot; read-at-snapshot and timestamp time travel
reproduce the table as it was — the engine's analog of Iceberg's
``VERSION AS OF`` / ``TIMESTAMP AS OF`` over its metadata tree
(producer_account_setup/logs/producer_cleanup_logs.txt:33-51)."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
    SnapshotNotFoundError,
    Warehouse,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_append_twice_read_first_snapshot(wh):
    wh.create_table("t", "k int, v string")
    wh.insert_values("t", [(1, "a"), (2, "b")])
    wh.insert_values("t", [(3, "c")])
    snaps = wh.snapshots("t")
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert all(s["operation"] == "append" and s["added_files"] for s in snaps)
    first = wh.read_table("t", snapshot_id=1)
    assert sorted(r.k for r in first.collect()) == [1, 2]
    current = wh.read_table("t")
    assert sorted(r.k for r in current.collect()) == [1, 2, 3]
    assert wh.current_snapshot_id("t") == 2


def test_snapshot_read_partitioned_table(wh):
    wh.create_table("p", "k int, city string", partition_by=["city"])
    wh.insert_values("p", [(1, "Austin"), (2, "Dallas")])
    wh.insert_values("p", [(3, "Austin")])
    snap1 = wh.read_table("p", snapshot_id=1)
    assert sorted((r.k, r.city) for r in snap1.collect()) == [(1, "Austin"), (2, "Dallas")]
    assert sorted(r.k for r in wh.read_table("p", snapshot_id=2).collect()) == [1, 2, 3]


def test_timestamp_time_travel(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    ts_after_first = wh.snapshots("t")[0]["timestamp_ms"]
    wh.insert_values("t", [(2,)])
    old = wh.read_table("t", as_of_timestamp_ms=ts_after_first)
    assert [r.k for r in old.collect()] == [1]
    # before any snapshot → refused, as Iceberg refuses it
    with pytest.raises(SnapshotNotFoundError, match="older than"):
        wh.read_table("t", as_of_timestamp_ms=ts_after_first - 10_000)


def test_unknown_snapshot_raises(wh):
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    with pytest.raises(SnapshotNotFoundError):
        wh.read_table("t", snapshot_id=99)


def test_snapshot_through_resource_link(wh):
    wh.create_table("base", "k int")
    wh.insert_values("base", [(1,)])
    wh.create_resource_link("rl_base", "base")
    wh.insert_values("base", [(2,)])
    assert sorted(r.k for r in wh.read_table("rl_base").collect()) == [1, 2]
    assert [r.k for r in wh.read_table("rl_base", snapshot_id=1).collect()] == [1]


def test_rename_table_preserves_history_and_refs(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("rn_src", "k int, v string")
    wh.insert_values("rn_src", [(1, "a"), (2, "b")])
    v1 = wh.current_snapshot_id("rn_src")
    wh.insert_values("rn_src", [(3, "c")])
    wh.create_tag("rn_src", "first", v1)

    wh.rename_table("rn_src", "rn_dst")
    assert not wh.table_exists("rn_src")
    assert wh.read_table("rn_dst").count() == 3
    # time travel and refs survive under the new name (relative paths)
    assert wh.read_table("rn_dst", snapshot_id=v1).count() == 2
    assert wh.read_table("rn_dst", ref="first").count() == 2
    # old name fully gone; new name occupied
    import pytest as _pytest

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
        TableNotFoundError,
    )

    with _pytest.raises(TableNotFoundError):
        wh.read_table("rn_src")
    with _pytest.raises(ValueError, match="already exists"):
        wh.create_table("rn_dst", "k int")


def test_rename_table_refuses_link_target_and_collision(spark, tmp_path):
    import pytest as _pytest

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t_a", "k int")
    wh.create_table("t_b", "k int")
    with _pytest.raises(ValueError, match="already exists"):
        wh.rename_table("t_a", "t_b")
    wh.create_resource_link("rl_a", "t_a")
    with _pytest.raises(ValueError, match="resource link"):
        wh.rename_table("t_a", "t_c")
    wh.drop_table("rl_a")
    wh.rename_table("t_a", "t_c")
    assert wh.table_exists("t_c") and not wh.table_exists("t_a")


def test_rename_table_refuses_link_source_and_self(spark, tmp_path):
    """Renaming a resource link itself is a clear refusal (a link owns
    no data directory — there is nothing to move), and a self-rename is
    refused rather than deadlocking on the double name lock."""
    import pytest as _pytest

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t_base", "k int")
    wh.insert_values("t_base", [(1,)])
    wh.create_resource_link("rl_x", "t_base")
    with _pytest.raises(ValueError, match="resource link"):
        wh.rename_table("rl_x", "rl_y")
    # the link still works after the refusal
    assert wh.read_table("rl_x").count() == 1
    with _pytest.raises(ValueError, match="itself"):
        wh.rename_table("t_base", "t_base")


def test_rename_race_to_same_target_is_linearizable(spark, tmp_path):
    """ADVICE r4: the target-free check must be atomic with the meta
    write. Two threads renaming different tables to the SAME target:
    exactly one wins, the loser gets the 'already exists' refusal, and
    both source tables' data survives (winner under the new name, loser
    under its old name)."""
    import threading

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("race_a", "k int")
    wh.create_table("race_b", "k int")
    wh.insert_values("race_a", [(1,)])
    wh.insert_values("race_b", [(2,)])

    results: dict[str, Exception | None] = {}
    barrier = threading.Barrier(2)

    def attempt(src: str) -> None:
        barrier.wait()
        try:
            wh.rename_table(src, "race_tgt")
            results[src] = None
        except Exception as e:  # noqa: BLE001
            results[src] = e

    ts = [threading.Thread(target=attempt, args=(s,)) for s in ("race_a", "race_b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    winners = [s for s, e in results.items() if e is None]
    losers = [s for s, e in results.items() if e is not None]
    assert len(winners) == 1 and len(losers) == 1, results
    assert "already exists" in str(results[losers[0]])
    assert wh.table_exists("race_tgt") and wh.table_exists(losers[0])
    assert not wh.table_exists(winners[0])
    val = {"race_a": 1, "race_b": 2}
    assert [r.k for r in wh.read_table("race_tgt").collect()] == [val[winners[0]]]
    assert [r.k for r in wh.read_table(losers[0]).collect()] == [val[losers[0]]]
