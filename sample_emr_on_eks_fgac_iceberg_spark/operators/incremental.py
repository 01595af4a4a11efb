"""Incremental (CDC-style) reads through the warehouse's snapshot log,
exposed as a driver-checkable query.

The reference's storage layer is Iceberg, whose headline consumer
pattern beyond plain scans is the *incremental append scan*: read only
the rows added between two snapshots, never rescanning the table
(producer_account_setup/logs/producer_cleanup_logs.txt:33-51 shows the
snapshot/manifest tree this walks). `Warehouse.read_changes` implements
that primitive; this module drives it end-to-end — CREATE TABLE, two
INSERT batches (two snapshots), then an incremental read from the
first snapshot — so the correctness artifact records the snapshot
semantics, not just the unit tests.

The fixture is deterministic (fixed rows, fixed batch split), so the
oracle is a plain VALUES table of the second batch.

100 TB posture: read_changes opens only the data files added by the
snapshots in (from, to] — cost scales with the delta, not the table.
This is the batch half of the streaming-tail pattern tested in
tests/test_streaming.py (foreachBatch + last_committed_batch fencing).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from sample_emr_on_eks_fgac_iceberg_spark.operators.registry import register

_BATCH1 = [(1, "alpha", 10), (2, "beta", 20), (3, "gamma", 30)]
_BATCH2 = [(4, "delta", 40), (5, "epsilon", 50)]

_TABLE = "cdc_orders_lite"
_SCHEMA = "id BIGINT, label STRING, qty BIGINT"

# One warehouse per SparkSession, built lazily (same pattern as
# fgac_queries._engine_for): setup is provisioning, the registered
# query measures/checks only the incremental read itself.
_STATE: dict[str, tuple] = {}


def _warehouse_for(spark: SparkSession):
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    key = spark.sparkContext.applicationId
    if key not in _STATE:
        wh = Warehouse(spark, tempfile.mkdtemp(prefix="cdc_wh_"))
        wh.create_table(_TABLE, _SCHEMA)
        wh.insert_values(_TABLE, _BATCH1)
        snap1 = wh.current_snapshot_id(_TABLE)
        wh.insert_values(_TABLE, _BATCH2)
        _STATE[key] = (wh, snap1)
    return _STATE[key]


@register(
    "cdc_incremental_append",
    oracle="""
    SELECT CAST(id AS BIGINT) AS id, label, CAST(qty AS BIGINT) AS qty
    FROM (VALUES (4, 'delta', 40), (5, 'epsilon', 50)) t(id, label, qty)
    """,
)
def cdc_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan: exactly the second batch's rows — the
    file-delta between snapshot 1 and the current snapshot."""
    wh, snap1 = _warehouse_for(spark)
    return wh.read_changes(_TABLE, from_snapshot_id=snap1)


_CDC_TABLE = "cdc_accts"
_CDC_SCHEMA = "id BIGINT, val STRING, amt BIGINT"
_CDC_STATE: dict[str, tuple] = {}


def _cdc_warehouse_for(spark: SparkSession):
    """Deterministic MoR-merge fixture: one insert snapshot, then one
    multi-clause MERGE (delete / update / conditional insert) under
    write.merge.mode=merge-on-read — the round-9 CDC loop end-to-end
    (upsert producer → changelog consumer)."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    key = spark.sparkContext.applicationId
    if key not in _CDC_STATE:
        wh = Warehouse(spark, tempfile.mkdtemp(prefix="cdc_mor_wh_"))
        wh.create_table(_CDC_TABLE, _CDC_SCHEMA)
        wh.set_properties(_CDC_TABLE, {"write.merge.mode": "merge-on-read"})
        wh.insert_values(_CDC_TABLE, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
        snap1 = wh.current_snapshot_id(_CDC_TABLE)
        src = spark.createDataFrame(
            [(2, "b2", 25, "U"), (3, None, 0, "D"), (4, "d", 40, "I"),
             (5, "x", 0, "X")],
            "id bigint, val string, amt bigint, op string",
        )
        wh.merge_into(
            _CDC_TABLE,
            src,
            "t.id = s.id",
            matched_clauses=[
                {"action": "delete", "condition": "s.op = 'D'"},
                {"action": "update", "set": {"val": "s.val", "amt": "s.amt"},
                 "condition": None},
            ],
            not_matched_clauses=[
                {"condition": "s.op <> 'X'",
                 "values": {"id": "s.id", "val": "s.val", "amt": "s.amt"}},
            ],
            not_matched_insert=None,
        )
        _CDC_STATE[key] = (wh, snap1)
    return _CDC_STATE[key]


@register(
    "cdc_merge_changelog",
    oracle="""
    SELECT CAST(id AS BIGINT) AS id, val, CAST(amt AS BIGINT) AS amt,
           ct AS _change_type, CAST(0 AS INT) AS _change_ordinal,
           CAST(2 AS BIGINT) AS _commit_snapshot_id
    FROM (VALUES (2, 'b',  20, 'delete'),
                 (3, 'c',  30, 'delete'),
                 (2, 'b2', 25, 'insert'),
                 (4, 'd',  40, 'insert')) t(id, val, amt, ct)
    """,
)
def cdc_merge_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog read (Iceberg's create_changelog_view): the
    merge-on-read MERGE snapshot decomposes into _change_type rows —
    deletes of the two pre-images (update = delete+insert pair, DELETE
    clause = bare delete) plus inserts of the replacement and the new
    row; the op='X' source row fires no clause and emits nothing.
    Pre-images come from the previous snapshot restricted to the
    delete files' recorded refs — manifest-planned, never a rescan."""
    wh, snap1 = _cdc_warehouse_for(spark)
    return wh.read_changes(_CDC_TABLE, from_snapshot_id=snap1, mode="cdc")


_SCD_STATE: dict[str, object] = {}


def _scd_warehouse_for(spark: SparkSession):
    """SCD close-out fixture: a dimension refreshed from a feed via the
    round-9 multi-clause MERGE — matched rows take the feed's values,
    rows missing from the feed are deleted (big amounts) or flagged
    stale (NOT MATCHED BY SOURCE, first-match-wins), feed-only rows
    insert."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    key = spark.sparkContext.applicationId
    if key not in _SCD_STATE:
        wh = Warehouse(spark, tempfile.mkdtemp(prefix="scd_wh_"))
        wh.create_table("dim", "id BIGINT, val STRING, amt BIGINT, status STRING")
        wh.insert_values(
            "dim",
            [(1, "a", 10, "live"), (2, "b", 20, "live"),
             (3, "c", 30, "live"), (4, "d", 40, "live")],
        )
        src = spark.createDataFrame(
            [(1, "a2", 11), (5, "e", 50)], "id bigint, val string, amt bigint"
        )
        wh.merge_into(
            "dim",
            src,
            "t.id = s.id",
            matched_clauses=[
                {"action": "update",
                 "set": {"val": "s.val", "amt": "s.amt"}, "condition": None},
            ],
            not_matched_clauses=[
                {"condition": None,
                 "values": {"id": "s.id", "val": "s.val", "amt": "s.amt",
                            "status": "'live'"}},
            ],
            not_matched_insert=None,
            not_matched_by_source=[
                {"action": "delete", "condition": "t.amt >= 40"},
                {"action": "update", "set": {"status": "'stale'"},
                 "condition": None},
            ],
        )
        _SCD_STATE[key] = wh
    return _SCD_STATE[key]


@register(
    "merge_scd_close_out",
    oracle="""
    SELECT CAST(id AS BIGINT) AS id, val, CAST(amt AS BIGINT) AS amt, status
    FROM (VALUES (1, 'a2', 11, 'live'),
                 (2, 'b',  20, 'stale'),
                 (3, 'c',  30, 'stale'),
                 (5, 'e',  50, 'live')) t(id, val, amt, status)
    """,
)
def merge_scd_close_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-clause MERGE with NOT MATCHED BY SOURCE (the SCD close-out
    idiom, VERDICT r8 task 2): matched → refresh, absent-from-feed →
    delete when amt ≥ 40 else flag stale (first-match-wins), feed-only
    → insert. Only files where some clause fired are rewritten."""
    wh = _scd_warehouse_for(spark)
    return wh.read_table("dim")


@register(
    "cdc_compute_updates",
    oracle="""
    SELECT CAST(id AS BIGINT) AS id, val, CAST(amt AS BIGINT) AS amt,
           ct AS _change_type, CAST(0 AS INT) AS _change_ordinal,
           CAST(2 AS BIGINT) AS _commit_snapshot_id
    FROM (VALUES (2, 'b',  20, 'update_before'),
                 (2, 'b2', 25, 'update_after'),
                 (3, 'c',  30, 'delete'),
                 (4, 'd',  40, 'insert')) t(id, val, amt, ct)
    """,
)
def cdc_compute_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg create_changelog_view(compute_updates): within one
    commit, the delete+insert pair sharing the identifier column is
    relabeled update_before/update_after; the bare delete and the
    fresh insert keep their kinds. One window over the change DELTA —
    never the table."""
    wh, snap1 = _cdc_warehouse_for(spark)
    return wh.read_changes(
        _CDC_TABLE,
        from_snapshot_id=snap1,
        mode="cdc",
        compute_updates=True,
        identifier_columns=["id"],
    )


@register(
    "cdc_net_changes",
    oracle="""
    SELECT CAST(id AS BIGINT) AS id, val, CAST(amt AS BIGINT) AS amt,
           'insert' AS _change_type, CAST(ord AS INT) AS _change_ordinal,
           CAST(sid AS BIGINT) AS _commit_snapshot_id
    FROM (VALUES (1, 'a',  10, 0, 1),
                 (2, 'b2', 25, 1, 2),
                 (4, 'd',  40, 1, 2)) t(id, val, amt, ord, sid)
    """,
)
def cdc_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg create_changelog_view(net_changes): the whole-history
    changelog collapses to the NET change per row value — (2,'b',20)
    and (3,'c',30) were inserted then deleted inside the range and
    emit nothing; surviving rows keep the last contributing
    ordinal/snapshot. One groupBy over the change DELTA (rows scale
    with changes, not the table)."""
    wh, _snap1 = _cdc_warehouse_for(spark)
    return wh.read_changes(_CDC_TABLE, mode="cdc", net_changes=True)


_AGG_STATE: dict[str, tuple] = {}


def _agg_warehouse_for(spark: SparkSession):
    """Materialized-aggregate maintenance fixture: a metrics table with
    a base snapshot (the stored rollup's high-water mark) and one
    CDC-upsert commit after it."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    key = spark.sparkContext.applicationId
    if key not in _AGG_STATE:
        wh = Warehouse(spark, tempfile.mkdtemp(prefix="cdc_agg_wh_"))
        wh.create_table("metrics", "grp STRING, k BIGINT, amt BIGINT")
        wh.set_properties("metrics", {"write.merge.mode": "merge-on-read"})
        wh.insert_values(
            "metrics",
            [("g1", 1, 10), ("g1", 2, 20), ("g2", 3, 30), ("g2", 4, 40)],
        )
        snap1 = wh.current_snapshot_id("metrics")
        src = spark.createDataFrame(
            [("g1", 2, 25, "U"), ("g2", 3, 0, "D"), ("g2", 5, 50, "I")],
            "grp string, k bigint, amt bigint, op string",
        )
        wh.merge_into(
            "metrics",
            src,
            "t.k = s.k",
            matched_clauses=[
                {"action": "delete", "condition": "s.op = 'D'"},
                {"action": "update", "set": {"amt": "s.amt"}, "condition": None},
            ],
            not_matched_clauses=[
                {"condition": None,
                 "values": {"grp": "s.grp", "k": "s.k", "amt": "s.amt"}},
            ],
            not_matched_insert=None,
        )
        _AGG_STATE[key] = (wh, snap1)
    return _AGG_STATE[key]


@register(
    "cdc_incremental_agg_maintenance",
    oracle="""
    SELECT grp, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(total_amt AS BIGINT) AS total_amt
    FROM (VALUES ('g1', 2, 35), ('g2', 2, 90)) t(grp, n_rows, total_amt)
    """,
)
def cdc_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over the changelog:
    the stored per-group rollup (computed at the base snapshot) is
    brought current by FOLDING IN the CDC delta — insert rows add
    (+1, +amt), delete rows subtract — instead of rescanning the
    table. At 100 TB this is the difference between refreshing a
    rollup from a PB-scale scan and from the last commit's delta:
    cost scales with changes, not table size. An update pair folds to
    its net effect automatically (delete −old, insert +new)."""
    from pyspark.sql import functions as F

    wh, snap1 = _agg_warehouse_for(spark)
    base = (
        wh.read_table("metrics", snapshot_id=snap1)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("b_rows"),
            F.sum("amt").alias("b_amt"),
        )
    )
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        wh.read_changes("metrics", from_snapshot_id=snap1, mode="cdc")
        .groupBy("grp")
        .agg(
            F.sum(sign).alias("d_rows"),
            F.sum(sign * F.col("amt")).alias("d_amt"),
        )
    )
    return (
        base.join(delta, "grp", "full_outer")
        .select(
            F.col("grp"),
            (F.coalesce("b_rows", F.lit(0)) + F.coalesce("d_rows", F.lit(0)))
            .cast("bigint")
            .alias("n_rows"),
            (F.coalesce("b_amt", F.lit(0)) + F.coalesce("d_amt", F.lit(0)))
            .cast("bigint")
            .alias("total_amt"),
        )
        .filter(F.col("n_rows") > 0)
    )


@register(
    "cdc_changelog_view_sql",
    oracle="""
    SELECT ct AS _change_type, CAST(n AS BIGINT) AS n,
           CAST(amt AS BIGINT) AS total_amt
    FROM (VALUES ('delete',        1, 30),
                 ('insert',        1, 40),
                 ('update_after',  1, 25),
                 ('update_before', 1, 20)) t(ct, n, amt)
    """,
)
def cdc_changelog_view_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 SQL front door for the changelog read:
    CALL system.create_changelog_view (compute_updates +
    identifier_columns, Iceberg's exact procedure surface) registers a
    named view over the CDC frame, then plain SQL aggregates it — the
    delete+insert pair for id=2 relabels to update_before/update_after,
    the bare delete (id=3) and fresh insert (id=4) keep their kinds.
    The view re-plans per query from the manifest-planned delta read
    (sql_frontend.py), so it tracks later commits like Iceberg's."""
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

    wh, snap1 = _cdc_warehouse_for(spark)
    fe = SqlFrontend(spark, wh)
    fe.execute(
        f"CALL system.create_changelog_view(table => '{_CDC_TABLE}', "
        "changelog_view => 'cdc_events_cl', "
        f"options => map('start-snapshot-id', '{snap1}'), "
        "compute_updates => true, identifier_columns => array('id'))"
    )
    return fe.execute(
        "SELECT _change_type, count(*) AS n, sum(amt) AS total_amt "
        "FROM cdc_events_cl GROUP BY _change_type"
    )


# --------------------------------------------------------------- r11:
# incremental maintenance of a JOIN materialized view (delta-join)

_JMV_STATE: dict[tuple, object] = {}


def _join_mv_warehouse_for(spark: SparkSession, sf_dir: str):
    """Two-batch fixture over the REAL test tables: orders/customer
    split by key residue, a segment-revenue JOIN view materialized at
    batch 1 and brought current by the delta-join identity after batch
    2 — never by re-joining the full tables."""
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _JMV_STATE:
        return _JMV_STATE[key]
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="jmv_wh_"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    wh.create_table("jmv_orders", orders.schema)
    wh.create_table("jmv_customer", customer.schema)
    wh.create_table(
        "jmv_result",
        "c_mktsegment string, n_orders bigint, revenue_cents decimal(38,0)",
    )
    # batch 1: most of both tables
    wh.insert_into("jmv_orders", orders.filter(F.col("o_orderkey") % 3 != 0))
    wh.insert_into(
        "jmv_customer", customer.filter(F.col("c_custkey") % 5 != 0)
    )
    s_o1 = wh.current_snapshot_id("jmv_orders")
    s_c1 = wh.current_snapshot_id("jmv_customer")
    mv0 = (
        wh.read_table("jmv_orders")
        .join(wh.read_table("jmv_customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    wh.insert_into("jmv_result", mv0)
    # batch 2: the held-back rows land in BOTH base tables
    wh.insert_into("jmv_orders", orders.filter(F.col("o_orderkey") % 3 == 0))
    wh.insert_into(
        "jmv_customer", customer.filter(F.col("c_custkey") % 5 == 0)
    )
    # delta-join maintenance: with O_new = O_old ∪ ΔO and C_new =
    # C_old ∪ ΔC,  ΔMV = ΔO ⋈ C_new  ∪  O_old ⋈ ΔC  (the first term
    # absorbs ΔO⋈ΔC, so each new pair is counted exactly once); both
    # delta scans are manifest-planned incremental reads — only the
    # batch-2 files are ever opened, never a rescan of either table
    d_o = wh.read_changes("jmv_orders", from_snapshot_id=s_o1)
    d_c = wh.read_changes("jmv_customer", from_snapshot_id=s_c1)
    o_old = wh.read_table("jmv_orders", snapshot_id=s_o1)
    c_new = wh.read_table("jmv_customer")
    delta_pairs = d_o.join(
        c_new, F.col("o_custkey") == F.col("c_custkey")
    ).unionByName(
        o_old.join(d_c, F.col("o_custkey") == F.col("c_custkey"))
    )
    delta_mv = delta_pairs.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )
    wh.merge_into(
        "jmv_result",
        delta_mv,
        "t.c_mktsegment = s.c_mktsegment",
        matched_clauses=[
            {
                "action": "update",
                "set": {
                    "n_orders": "t.n_orders + s.n_orders",
                    "revenue_cents": "t.revenue_cents + s.revenue_cents",
                },
                "condition": None,
            }
        ],
        not_matched_clauses=[{"condition": None, "values": True}],
    )
    _JMV_STATE[key] = wh
    return wh


@register(
    "cdc_join_mv_maintenance",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS BIGINT)
               AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def cdc_join_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view — the
    delta-join identity ΔMV = ΔO⋈C_new ∪ O_old⋈ΔC applied through the
    changelog, then MERGEd into the stored rollup. The oracle is the
    definitional full join over the COMPLETE tables: the maintained
    view must be indistinguishable from a from-scratch refresh.

    At 100 TB this is the MV-maintenance cost model that matters: each
    refresh touches delta-files ⋈ (dim-sized or delta-sized) inputs —
    manifest-planned incremental reads, never a rescan of the PB-scale
    fact table; the MERGE touches only the affected segment rows."""
    from pyspark.sql import functions as F

    wh = _join_mv_warehouse_for(spark, sf_dir)
    return wh.read_table("jmv_result").select(
        "c_mktsegment",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
    )
