"""Seeded property tests for the round-11 K-scalar rank machinery:
weighted order statistics, prefix-min folds, and the skyline
decomposition must match brute-force references on random inputs.
Seeded loops (not hypothesis) because each case spins Spark jobs."""

import random

from pyspark.sql import functions as F

from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
    partition_prefix_min,
    weighted_order_statistic,
)


def test_weighted_order_statistic_matches_bruteforce(spark):
    rng = random.Random(11)
    for trial in range(6):
        n = rng.randint(1, 120)
        rows = [
            (rng.randint(-50, 50), i, rng.randint(1, 9)) for i in range(n)
        ]
        num, den = rng.choice([(1, 2), (1, 4), (9, 10), (1, 1)])
        df = spark.createDataFrame(rows, "x long, id long, w long")
        total, row = weighted_order_statistic(
            df, ["x", "id"], "w", num, den, n_parts=5
        )
        # brute force: sort by (x, id), walk cumulative weight
        srt = sorted(rows, key=lambda r: (r[0], r[1]))
        w_total = sum(r[2] for r in srt)
        target = max(1, -(-(num * w_total) // den))
        acc = 0
        expect = None
        for r in srt:
            acc += r[2]
            if acc >= target:
                expect = r
                break
        assert total == w_total, trial
        assert (row["x"], row["id"]) == (expect[0], expect[1]), (
            trial, num, den, row, expect
        )


def test_partition_prefix_min_matches_bruteforce(spark):
    rng = random.Random(23)
    for trial in range(5):
        k = rng.randint(1, 10)
        vals = [(p, rng.randint(-100, 100)) for p in range(k)]
        partials = spark.createDataFrame(vals, "pid int, v long")
        got = {
            r["pid"]: r["__prior_min"]
            for r in partition_prefix_min(partials, "pid", "v").collect()
        }
        cur = None
        for p, v in vals:
            assert got[p] == cur, (trial, p, got, vals)
            cur = v if cur is None or v < cur else cur


def test_skyline_random_points_match_bruteforce(spark, tmp_path):
    import duckdb

    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

    rng = random.Random(31)
    d = tmp_path / "sky"
    d.mkdir()
    rows = [
        (
            i,
            float(rng.randint(1, 40)),
            f"1995-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        )
        for i in range(80)
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t (o_orderkey BIGINT, o_totalprice DOUBLE, "
        "o_orderdate DATE)"
    )
    for k, p, dt in rows:
        con.execute("INSERT INTO t VALUES (?, ?, ?)", [k, p, dt])
    con.sql(f"COPY t TO '{d}/orders.parquet' (FORMAT PARQUET)")
    got = {
        r["o_orderkey"]
        for r in QUERIES["orders_skyline_dominators"](spark, str(d)).collect()
    }
    import datetime

    pts = {
        k: (int(round(p * 100)), datetime.date.fromisoformat(dt))
        for k, p, dt in rows
    }
    expect = {
        k
        for k, (pc, dt) in pts.items()
        if not any(
            (pc2 >= pc and dt2 <= dt and (pc2 > pc or dt2 < dt))
            for k2, (pc2, dt2) in pts.items()
            if k2 != k
        )
    }
    assert got == expect
