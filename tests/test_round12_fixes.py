"""Round-12 fixes — the r11 VERDICT queue items and every ADVICE note:
size-derived kNN plane defaults, decimal-safe prefix sums, quote-aware
rewrite-predicate parsing, fail-loud persistent CREATE FUNCTION, and
empty-corpus parity for the vocabulary coverage curve."""

from decimal import Decimal

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.operators.similarity import (
    _KNN_BUCKET_CAP,
    _LSH_DET_PLANES,
    _derive_knn_planes,
)


# ---------------------------------------------- knn planes (VERDICT #3)
def test_knn_planes_floor_at_small_corpora():
    cap = _KNN_BUCKET_CAP
    assert _derive_knn_planes(0, cap) == _LSH_DET_PLANES
    assert _derive_knn_planes(cap, cap) == _LSH_DET_PLANES
    assert _derive_knn_planes(10_000, cap) == _LSH_DET_PLANES


def test_knn_planes_grow_with_corpus_count():
    cap = _KNN_BUCKET_CAP
    # 1e9 vectors / 4096 cap → log2 ≈ 17.9 → 18 + 2 slack = 20 planes:
    # expected bucket size 1e9 / 2^20 ≈ 954 ≈ cap/4
    assert _derive_knn_planes(1_000_000_000, cap) == 20
    # monotone in n, capped at 30
    prev = 0
    for n in (10**5, 10**6, 10**7, 10**9, 10**12, 10**15):
        p = _derive_knn_planes(n, cap)
        assert p >= prev
        prev = p
    assert _derive_knn_planes(10**15, cap) == 30
    # monotone-decreasing in cap
    assert _derive_knn_planes(10**9, 64) > _derive_knn_planes(10**9, 4096)


def test_knn_graph_oracle_green_with_derived_default(spark, sf_dir):
    """With the conf UNSET the derived default must reproduce the
    registered oracle bit-for-bit (small corpus → floor planes)."""
    import duckdb

    from sample_emr_on_eks_fgac_iceberg_spark.operators import ORACLE, QUERIES

    assert spark.conf.get("spark_graft.knn.planes", None) is None
    got = sorted(tuple(r) for r in QUERIES["similarity_knn_graph"](spark, sf_dir).collect())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    exp = sorted(tuple(r) for r in con.sql(ORACLE["similarity_knn_graph"]).fetchall())
    assert got == exp


# ------------------------------------- rank offsets type (ADVICE r11)
def test_global_prefix_bigint_sums_stay_bigint(spark):
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
        global_prefix,
    )

    df = spark.createDataFrame(
        [(k, v) for k, v in enumerate([3, 5, 2, 4, 1, 6])], "k long, v bigint"
    )
    out = global_prefix(df, ["k"], {"s": F.col("v")}, inclusive=False, n_parts=3)
    assert dict(out.dtypes)["s"] == "bigint"
    assert {(r["k"], r["s"]) for r in out.collect()} == {
        (0, 0), (1, 3), (2, 8), (3, 10), (4, 14), (5, 15),
    }


def test_global_prefix_decimal_sums_never_overflow(spark):
    """decimal(38,0) magnitudes (revenue cents at extreme scale) fold
    into decimal offsets — a bigint accumulator would overflow past
    2^63 (ADVICE r11)."""
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
        global_prefix,
    )

    big = 2**70  # far past int64
    df = spark.createDataFrame(
        [(0, Decimal(big)), (1, Decimal(big)), (2, Decimal(7))],
        "k long, s decimal(38,0)",
    )
    out = global_prefix(df, ["k"], {"c": F.col("s")}, inclusive=False, n_parts=3)
    assert dict(out.dtypes)["c"] == "decimal(38,0)"
    got = {(r["k"], int(r["c"]), int(r["c_total"])) for r in out.collect()}
    assert got == {(0, 0, 2 * big + 7), (1, big, 2 * big + 7), (2, 2 * big, 2 * big + 7)}


# ------------------------------- quote-aware AND split (ADVICE r11)
def test_rewrite_where_split_respects_quoted_and():
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import (
        _parse_where_filters,
        _split_top_and,
    )

    assert _split_top_and("a = 1 AND b = 2") == ["a = 1", "b = 2"]
    assert _split_top_and("brand = 'A AND B'") == ["brand = 'A AND B'"]
    assert _split_top_and("brand = 'x and y' and k = 3") == [
        "brand = 'x and y'",
        "k = 3",
    ]
    got = _parse_where_filters("brand = 'A AND B' AND k >= 10")
    assert got == [("brand", "=", "A AND B"), ("k", ">=", 10)]
    # a double-quoted literal holding ' and a backslash-escaped quote
    # end their literal where Spark's lexer ends it
    assert _split_top_and('brand = "it\'s" AND k = 3') == ['brand = "it\'s"', "k = 3"]
    assert _split_top_and("brand = 'O\\'Brien' AND k = 3") == ["brand = 'O\\'Brien'", "k = 3"]


def test_rewrite_where_scoped_compaction_with_quoted_and(spark, tmp_path):
    """End-to-end: a literal containing ' AND ' scopes the rewrite to
    exactly the matching partition (previously a parse error)."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

    wh = Warehouse(spark, str(tmp_path / "wh"))
    fe = SqlFrontend(spark, wh)
    fe.execute("CREATE TABLE t (city STRING, v INT) PARTITIONED BY (city)")
    fe.execute(
        "INSERT INTO t VALUES ('A AND B', 1), ('A AND B', 2), ('cold', 3)"
    )
    fe.execute("INSERT INTO t VALUES ('A AND B', 4)")
    hot_before = [
        f
        for f in wh._live_files(wh._read_meta("t"))
        if "AND" in f and "cold" not in f
    ]
    res = fe.execute(
        "CALL system.rewrite_data_files(table => 't', "
        "where => \"city = 'A AND B'\")"
    )
    row = res.collect()[0]
    assert row["rewritten_data_files_count"] == len(hot_before) >= 2
    got = sorted(tuple(r) for r in fe.execute("SELECT * FROM t").collect())
    assert got == [("A AND B", 1), ("A AND B", 2), ("A AND B", 4), ("cold", 3)]


# --------------------------- empty-corpus coverage parity (ADVICE r11)
def test_vocab_coverage_curve_empty_corpus_is_empty(spark, tmp_path):
    """Zero documents → zero rows (oracle CROSS JOIN parity), same
    class as the events_conversion_latency_quantiles r11 fix."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    d = str(tmp_path / "sf_empty")
    import os

    os.makedirs(d)
    spark.createDataFrame(
        [],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.parquet(f"{d}/documents.parquet")
    out = QUERIES["text_vocab_coverage_curve"](spark, d)
    assert out.count() == 0
    # schema intact for the empty frame
    assert [f[0] for f in out.dtypes] == [
        "k", "vocab_used", "covered_tokens", "total_tokens", "coverage_ppm",
    ]
