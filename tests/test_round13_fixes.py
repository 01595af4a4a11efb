"""Round-13 ADVICE fixes (ADVICE.md r12):

1. asof_join_frames NULL semantics — NULL equi-keys / NULL timestamps
   never match (SQL comparison semantics, matching DuckDB's ASOF),
   instead of Window.partitionBy's NULL-groups-together behavior.
2. rewrite_asof_joins refuses alias reuse — the qualifier strip runs
   statement-wide, so a second relation introduced under the same
   identifier would be corrupted silently.
3. CREATE VIEW bodies must be queries on BOTH surfaces (a DML body
   would execute its side effect on every read).
4. rewrite_distinct_on probes the string-blanked statement (literals
   can't trigger rewrites or unbalance the paren guard) and splits
   OFFSET out of the order-item list.
5. Helper-column collisions (__qualify / __don / __obN) refuse loudly
   instead of silently dropping a user column.
"""

import duckdb
import pytest

from sample_emr_on_eks_fgac_iceberg_spark.operators.temporal import (
    asof_join_frames,
)
from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import (
    SqlFrontend,
    rewrite_distinct_on,
    rewrite_qualify,
)


# ---------------------------------------------- 1. asof NULL semantics
def test_asof_null_right_key_never_matches(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (None, 10, "b")], "k int, ts int, lv string"
    )
    right = spark.createDataFrame(
        [(None, 5, "rnull"), (1, 5, "r1")], "rk int, rts int, rv string"
    )
    j = asof_join_frames(left, right, [("k", "rk")], "ts", "rts", ">=", "left")
    got = {r["lv"]: r["rv"] for r in j.collect()}
    # the k=1 probe matches the k=1 right row; the NULL-key probe is
    # kept (how='left') but UNMATCHED — it must not pair with the
    # NULL-key right row
    assert got == {"a": "r1", "b": None}


def test_asof_null_key_probe_dropped_for_inner(spark):
    left = spark.createDataFrame([(None, 10, "b")], "k int, ts int, lv string")
    right = spark.createDataFrame([(None, 5, "r")], "rk int, rts int, rv string")
    j = asof_join_frames(left, right, [("k", "rk")], "ts", "rts", ">=", "inner")
    assert j.count() == 0


def test_asof_null_ts_right_row_never_carried(spark):
    # a NULL right ts sorted FIRST under the plain backward asc order
    # before the fix — last(__r, ignorenulls) could carry it as a
    # spurious "match" for any probe preceding every real right row
    left = spark.createDataFrame([(1, 10, "a")], "k int, ts int, lv string")
    right = spark.createDataFrame(
        [(1, None, "rnull"), (1, 50, "rlate")], "rk int, rts int, rv string"
    )
    j = asof_join_frames(left, right, [("k", "rk")], "ts", "rts", ">=", "left")
    rows = j.collect()
    assert len(rows) == 1 and rows[0]["rv"] is None


@pytest.mark.slow
def test_asof_null_ts_probe_never_matches_all_ops(spark):
    # a NULL-ts probe matches nothing under every op — in particular
    # the forward ops, whose DESC order sorts NULLs LAST where the
    # cumulative window would otherwise see every right row
    left = spark.createDataFrame([(1, None, "a")], "k int, ts int, lv string")
    right = spark.createDataFrame(
        [(1, 5, "r5"), (1, None, "rnull")], "rk int, rts int, rv string"
    )
    for op in (">=", ">", "<=", "<"):
        li = asof_join_frames(left, right, [("k", "rk")], "ts", "rts", op, "left")
        rows = li.collect()
        assert len(rows) == 1 and rows[0]["rv"] is None, op
        assert (
            asof_join_frames(
                left, right, [("k", "rk")], "ts", "rts", op, "inner"
            ).count()
            == 0
        ), op


def test_asof_null_never_match_agrees_with_duckdb_deterministic_subset():
    # DuckDB 1.0's ASOF NULL-timestamp behavior is ORDER-DEPENDENT
    # (probed: the same NULL-ts probe matches r3, r4 or nothing
    # depending on sibling rows — a partitioned-sort artifact), so the
    # engine pins the principled never-match rule. DuckDB's
    # deterministic subset — a lone NULL-ts probe, and NULL keys —
    # agrees with it:
    con = duckdb.connect()
    con.execute("CREATE TABLE l(k int, ts int, lv varchar)")
    con.execute("INSERT INTO l VALUES (2, NULL, 'lnull')")
    con.execute("CREATE TABLE r(rk int, rts int, rv varchar)")
    con.execute("INSERT INTO r VALUES (2, 7, 'r7'), (2, 12, 'r12')")
    assert (
        con.execute(
            "SELECT * FROM l ASOF JOIN r ON l.k = r.rk AND l.ts >= r.rts"
        ).fetchall()
        == []
    )
    con.execute("UPDATE l SET ts = 9, k = NULL")
    assert (
        con.execute(
            "SELECT * FROM l ASOF JOIN r ON l.k = r.rk AND l.ts >= r.rts"
        ).fetchall()
        == []
    )


# ------------------------------------------------- 2. asof alias reuse
@pytest.fixture()
def fe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    clicks = spark.createDataFrame(
        [(10, 100, 1), (10, 200, 2)], "cu int, cts int, click_id int"
    )
    purch = spark.createDataFrame(
        [(10, 150, 11), (10, 300, 12)], "pu int, pts int, purchase_id int"
    )
    wh.create_table("clicks", clicks.schema)
    wh.insert_into("clicks", clicks)
    wh.create_table("purch", purch.schema)
    wh.insert_into("purch", purch)
    other = spark.createDataFrame([(10, 7)], "ok int, ov int")
    wh.create_table("other", other.schema)
    wh.insert_into("other", other)
    return SqlFrontend(spark, wh)


def test_asof_alias_reused_by_second_join_raises(fe):
    with pytest.raises(ValueError, match="reused"):
        fe.execute(
            """
            SELECT p.purchase_id, c.click_id, c2.ov
            FROM purch p ASOF JOIN clicks c
              ON p.pu = c.cu AND p.pts >= c.cts
            JOIN other c ON c.ok = pu
            """
        )


def test_asof_alias_equals_other_table_name_raises(fe):
    # alias "other" collides with the table other referenced later —
    # the statement-wide qualifier strip would corrupt `FROM other`
    with pytest.raises(ValueError, match="reused"):
        fe.execute(
            """
            SELECT purchase_id FROM purch other ASOF JOIN clicks c
              ON other.pu = c.cu AND other.pts >= c.cts
            WHERE pu IN (SELECT ok FROM other)
            """
        )


def test_asof_normal_statement_still_rewrites(fe):
    got = fe.execute(
        """
        SELECT p.purchase_id, c.click_id FROM purch p ASOF JOIN clicks c
        ON p.pu = c.cu AND p.pts >= c.cts
        """
    ).collect()
    assert sorted((r[0], r[1]) for r in got) == [(11, 1), (12, 2)]


# --------------------------------------- 3. CREATE VIEW body is a query
def test_producer_create_view_rejects_dml_body(fe):
    with pytest.raises(ValueError, match="must be a query"):
        fe.execute("CREATE VIEW v AS INSERT INTO purch VALUES (1, 2, 3)")
    with pytest.raises(ValueError, match="must be a query"):
        fe.execute("CREATE VIEW v AS DROP TABLE purch")
    # CTE-smuggled DML: textual allowlist passes, parsed class catches
    with pytest.raises(ValueError, match="must be a query"):
        fe.execute(
            "CREATE VIEW v AS WITH s AS (SELECT 1 AS a) "
            "INSERT INTO purch SELECT a, a, a FROM s"
        )
    # the side effect must NOT have run
    assert fe.execute("SELECT COUNT(*) AS n FROM purch").collect()[0][0] == 2
    assert "v" not in fe.warehouse.list_views()


def test_consumer_create_view_rejects_cte_dml_body(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
    from sample_emr_on_eks_fgac_iceberg_spark.policy import INSERT, SELECT

    eng = FgacEngine(spark, str(tmp_path / "hc"))
    t = spark.createDataFrame([(1, "x")], "id int, v string")
    eng.warehouse.create_table("t13", t.schema)
    eng.warehouse.insert_into("t13", t)
    eng.policy.grant("writer", "t13", {SELECT, INSERT})
    sess = eng.session_for("writer")
    with pytest.raises(ValueError, match="must be a query"):
        sess.sql(
            "CREATE VIEW sneak AS WITH s AS (SELECT 2 AS id, 'y' AS v) "
            "INSERT INTO t13 SELECT * FROM s"
        )
    assert sess.sql("SELECT COUNT(*) AS n FROM t13").collect()[0][0] == 1


# ------------------------------- 4. DISTINCT ON probe + OFFSET handling
def test_distinct_on_inside_string_literal_is_data():
    q = "SELECT 'SELECT DISTINCT ON (x)' AS s FROM t"
    assert rewrite_distinct_on(q) == q


def test_distinct_on_literal_parens_dont_unbalance_guard():
    # the '(' inside the literal must not trip the top-level guard
    q = (
        "SELECT DISTINCT ON (k) k, v FROM t WHERE v <> '(weird' "
        "ORDER BY k, v"
    )
    out = rewrite_distinct_on(q)
    assert "row_number()" in out


def test_distinct_on_offset_without_limit(spark):
    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30), (3, 40)], "k int, v int"
    ).createOrReplaceTempView("don_t")
    out = rewrite_distinct_on(
        "SELECT DISTINCT ON (k) k, v FROM don_t ORDER BY k, v DESC OFFSET 1"
    )
    df = spark.sql(out)
    assert df.columns == ["k", "v"]  # the helper columns stay hidden
    # per-k winners are (1,20),(2,30),(3,40); OFFSET 1 skips the first
    assert [(r["k"], r["v"]) for r in df.collect()] == [(2, 30), (3, 40)]


def test_distinct_on_limit_offset_combined(spark):
    spark.createDataFrame(
        [(1, 10), (2, 30), (3, 40)], "k int, v int"
    ).createOrReplaceTempView("don_t2")
    out = rewrite_distinct_on(
        "SELECT DISTINCT ON (k) k, v FROM don_t2 ORDER BY k LIMIT 1 OFFSET 1"
    )
    df = spark.sql(out)
    assert df.columns == ["k", "v"]
    assert [(r["k"], r["v"]) for r in df.collect()] == [(2, 30)]


# -------------------------------------- 5. helper-column name collisions
def test_distinct_on_refuses_user_don_column():
    with pytest.raises(ValueError, match="__don"):
        rewrite_distinct_on(
            "SELECT DISTINCT ON (k) k, __don FROM t ORDER BY k"
        )
    with pytest.raises(ValueError, match="__ob"):
        rewrite_distinct_on(
            "SELECT DISTINCT ON (k) k, __ob1 FROM t ORDER BY k, __ob1"
        )


def test_qualify_refuses_user_qualify_column():
    with pytest.raises(ValueError, match="__qualify"):
        rewrite_qualify(
            "SELECT k, __qualify FROM t QUALIFY row_number() "
            "OVER (ORDER BY k) = 1"
        )


def test_qualify_literal_qualify_name_is_fine():
    # only a rewrite-triggering statement checks the collision; the
    # string literal spelling stays data
    q = "SELECT '__qualify' AS s FROM t"
    assert rewrite_qualify(q) == q


# ------------------------------------------ round-13 wave-4 operators
SF = "/root/testdata/sf0.001"


def test_js_divergence_matches_numpy(spark):
    import duckdb as _d
    import numpy as np

    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    con = _d.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    rows = con.sql(
        "SELECT lang, text FROM documents WHERE lang IN ('en','de')"
    ).fetchall()
    from collections import Counter

    ca, cb = Counter(), Counter()
    for lang, text in rows:
        (ca if lang == "en" else cb).update(text)
    chars = sorted(set(ca) | set(cb))
    pa = np.array([ca.get(c, 0) for c in chars], dtype=float)
    pb = np.array([cb.get(c, 0) for c in chars], dtype=float)
    ta, tb = pa.sum(), pb.sum()
    pa, pb = pa / ta, pb / tb
    m = (pa + pb) / 2
    jsd = 0.5 * (
        np.where(pa > 0, pa * np.log(pa / m), 0).sum()
        + np.where(pb > 0, pb * np.log(pb / m), 0).sum()
    )
    [row] = QUERIES["text_lang_char_js_divergence"](spark, SF).collect()
    assert row["n_chars_en"] == int(ta) and row["n_chars_de"] == int(tb)
    assert row["n_char_types"] == len(chars)
    assert abs(row["jsd_micro_nats"] - round(jsd * 1e6)) <= 1
    # bounded: 0 ≤ JSD ≤ ln 2
    assert 0 <= row["jsd_micro_nats"] <= 693148


def test_cluster_inertia_matches_numpy(spark):
    import duckdb as _d
    import numpy as np

    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    con = _d.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    rows = con.sql("SELECT label, embedding FROM embeddings").fetchall()
    by_label = {}
    for label, emb in rows:
        by_label.setdefault(label, []).append(
            np.round(np.asarray(emb, dtype=float) * 1000).astype(np.int64)
        )
    got = {
        r["label"]: (r["n_vecs"], r["inertia_milli2"], r["mean_dist_sq"])
        for r in QUERIES["embedding_cluster_inertia"](spark, SF).collect()
    }
    assert set(got) == set(by_label)
    for label, vecs in by_label.items():
        x = np.stack(vecs)
        c = np.round(x.sum(axis=0) / len(x)).astype(np.int64)
        inertia = int(((x - c) ** 2).sum())
        assert got[label] == (
            len(x), inertia, inertia // len(x)
        ), label


def test_process_conformance_invariants(spark):
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    rows = QUERIES["lineitem_process_conformance"](spark, SF).collect()
    total = load_table(spark, SF, "lineitem").count()
    assert sum(r["n_lines"] for r in rows) == total
    # truncated ppm shares can only undershoot
    s = sum(r["share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= s <= 1_000_000
    # the synthetic lake DOES contain ship-before-order rows — the
    # audit's whole point; verify the impossible count independently
    import duckdb as _d

    con = _d.connect()
    for t in ("orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    n_imp = con.sql(
        "SELECT COUNT(*) FROM lineitem l JOIN orders o "
        "ON l.l_orderkey = o.o_orderkey "
        "WHERE l.l_shipdate < o.o_orderdate"
    ).fetchone()[0]
    assert sum(r["n_impossible"] for r in rows) == n_imp
    # impossible rows land in the 0-30d bucket (negative lag ≤ 30)
    assert all(
        r["n_impossible"] == 0 or r["ship_lag_bucket"] == "0-30d"
        for r in rows
    )
    assert {r["priority"] for r in rows} == {
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    }


# ------------------------------------------ round-13 wave-5 operators
def test_gradient_energy_invariants(spark):
    import numpy as np

    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    rows = QUERIES["multimodal_image_gradient_energy"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["grad_h"] >= 0 and r["grad_v"] >= 0
        assert 0 <= r["edge_density_ppm"] <= 1_000_000
    # spot-check one doc against a local decode of the same synthetic PGM
    import duckdb as _d

    con = _d.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    doc_id, text = con.sql(
        "SELECT doc_id, text FROM documents WHERE length(text) > 0 "
        "AND octet_length(CAST(text AS BLOB)) = length(text) "
        "ORDER BY doc_id LIMIT 1"
    ).fetchone()
    w, h = 64 + (doc_id % 16) * 8, 64 + (doc_id % 9) * 8
    data = (text * (w * h // len(text) + 1))[: w * h].encode()
    plane = np.frombuffer(data, dtype=np.uint8).reshape(h, w).astype(int)
    dh, dv = np.abs(np.diff(plane, axis=1)), np.abs(np.diff(plane, axis=0))
    got = {r["doc_id"]: r for r in rows}[doc_id]
    assert got["grad_h"] == int(dh.sum())
    assert got["grad_v"] == int(dv.sum())
    assert got["n_edges"] == int((dh > 32).sum()) + int((dv > 32).sum())


def test_entry_exit_matrix_reconciles_with_sessionization(spark):
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    matrix = QUERIES["sessions_entry_exit_matrix"](spark, SF).collect()
    sessions = QUERIES["events_sessionization"](spark, SF).collect()
    assert sum(r["n_sessions"] for r in matrix) == len(sessions)
    assert sum(r["total_events"] for r in matrix) == sum(
        s["n_events"] for s in sessions
    )
    assert sum(r["n_single_event"] for r in matrix) == sum(
        1 for s in sessions if s["n_events"] == 1
    )
    s = sum(r["share_ppm"] for r in matrix)
    assert 1_000_000 - len(matrix) <= s <= 1_000_000


@pytest.mark.slow
def test_stream_upsert_state_is_last_version_per_key(spark):
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    got = sorted(
        map(tuple, QUERIES["fgac_stream_upsert_state"](spark, SF).collect())
    )
    assert got == [(1, "alpha-v3", 3), (2, "bravo-v2", 2), (3, "charlie", 1)]
    # idempotent across re-runs (fenced replay)
    again = sorted(
        map(tuple, QUERIES["fgac_stream_upsert_state"](spark, SF).collect())
    )
    assert again == got


def test_daily_backlog_invariants(spark):
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    rows = sorted(
        QUERIES["orders_daily_backlog"](spark, SF).collect(),
        key=lambda r: r["day"],
    )
    n_orders = load_table(spark, SF, "orders").count()
    assert sum(r["n_opened"] for r in rows) == n_orders
    # closed ≤ opened cumulatively, backlog is their running difference
    cum = 0
    for r in rows:
        cum += r["n_opened"] - r["n_closed"]
        assert r["backlog"] == cum
        assert cum >= 0
    # orders with no lineitems (if any) remain in the final backlog
    assert rows[-1]["backlog"] == n_orders - sum(
        r["n_closed"] for r in rows
    )


def test_asof_paren_select_expression_alias_not_refused(fe):
    """A parenthesized SELECT-LIST expression aliased to the join
    alias's name introduces no relation — the reuse guard must not
    refuse it (its `) alias` probe scans FROM-onward only)."""
    # the adversarial form: a parenthesized expression aliased to the
    # SAME name as the asof join alias
    got = fe.execute(
        """
        SELECT (a.purchase_id * 2) a, c.click_id
        FROM purch a ASOF JOIN clicks c
          ON a.pu = c.cu AND a.pts >= c.cts
        """
    ).collect()
    assert sorted((r[0], r[1]) for r in got) == [(22, 1), (24, 2)]


def test_asof_subquery_alias_reuse_still_refused(fe):
    """`FROM (subquery) a` after the join still trips the guard."""
    with pytest.raises(ValueError, match="reused"):
        fe.execute(
            """
            SELECT purchase_id FROM purch a ASOF JOIN clicks c
              ON a.pu = c.cu AND a.pts >= c.cts
            WHERE pu IN (SELECT ok FROM (SELECT ok FROM other) a)
            """
        )
