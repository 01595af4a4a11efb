"""Round-15 optimization-phase pins: the laspeyres overflow fence fails
LOUDLY instead of wrapping, and the empty-input contracts match the
oracle (0, not NULL, for counts; NULL for order statistics of nothing).
"""

from __future__ import annotations

import pandas as pd
import pytest

from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES


def _write_lineitem(tmp_path, rows):
    d = tmp_path / "laspeyres_sf"
    d.mkdir()
    pd.DataFrame(
        rows,
        columns=["l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"],
    ).to_parquet(d / "lineitem.parquet", index=False)
    return str(d)


def test_laspeyres_overflow_fence_raises(spark, tmp_path):
    # base year q0 = 1000; next year's unit price ~1e16 millicents →
    # millicents·q0 ≈ 1e19 > int64 — the fence must raise, not wrap
    sf = _write_lineitem(
        tmp_path,
        [
            (1, "1992-01-01", 1.0, 1000.0),
            (1, "1993-01-01", 1.0e13, 1.0),
        ],
    )
    with pytest.raises(Exception, match="overflows BIGINT"):
        QUERIES["lineitem_price_index_laspeyres"](spark, sf).collect()


def test_laspeyres_fence_passes_normal_data(spark, sf_dir):
    rows = QUERIES["lineitem_price_index_laspeyres"](spark, sf_dir).collect()
    assert len(rows) > 0


def test_assortativity_empty_edges_zero_not_null(spark, tmp_path):
    d = tmp_path / "empty_sf"
    d.mkdir()
    pd.DataFrame(
        {"l_partkey": pd.Series([], dtype="int64"),
         "l_suppkey": pd.Series([], dtype="int64"),
         "l_shipdate": pd.Series([], dtype="str"),
         "l_extendedprice": pd.Series([], dtype="float64"),
         "l_quantity": pd.Series([], dtype="float64")}
    ).to_parquet(d / "lineitem.parquet", index=False)
    row = QUERIES["part_supplier_degree_assortativity"](
        spark, str(d)
    ).collect()[0]
    assert row["n_edges"] == 0


def test_funnel_empty_documents_zero_not_null(spark, tmp_path):
    d = tmp_path / "empty_docs_sf"
    d.mkdir()
    pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"),
         "text": pd.Series([], dtype="str"),
         "lang": pd.Series([], dtype="str"),
         "source": pd.Series([], dtype="str"),
         "n_chars": pd.Series([], dtype="int64")}
    ).to_parquet(d / "documents.parquet", index=False)
    rows = QUERIES["corpus_curation_funnel"](spark, str(d)).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_docs"] == 0, r
        assert r["n_tokens"] == 0, r


@pytest.mark.parametrize(
    "name, table, want",
    [
        ("supplier_acctbal_mad_outliers", "supplier", [(0, None, None, 0)]),
        ("runs_test_daily_revenue", "orders", [(None, None, None, None)]),
    ],
)
def test_median_queries_on_empty_table_match_oracle(
    spark, sf_dir, tmp_path, name, table, want
):
    # an empty copy of the table, same parquet schema
    import duckdb

    from sample_emr_on_eks_fgac_iceberg_spark.operators import ORACLE

    con = duckdb.connect()
    path = tmp_path / f"{table}.parquet"
    con.sql(
        f"COPY (SELECT * FROM '{sf_dir}/{table}.parquet' LIMIT 0) "
        f"TO '{path}' (FORMAT parquet)"
    )
    con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    assert [tuple(r) for r in con.sql(ORACLE[name]).fetchall()] == want
    got = QUERIES[name](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in got] == want
