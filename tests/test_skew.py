"""Hotspot-avoidance utilities: salted two-phase aggregation
(correctness vs the direct groupBy on a deliberately skewed key, and
the structural property that phase 1 spreads the hot key over many
salt buckets), distributed NTILE cut-points (bucket-for-bucket
equivalence with Spark's own single-partition NTILE window across
sizes, including n < buckets and n not divisible by buckets), exact
order statistics against a sorted Python list, and the global prefix
primitive against Python running sums."""

import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
    exact_order_statistics,
    global_prefix,
    ntile_assign,
    ntile_cutpoints,
    two_phase_salted_agg,
)


def _skewed(spark):
    # 90% of rows share key 0 (the hot tenant); the rest spread out
    return spark.range(0, 100_000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 97).alias("k"),
        (F.col("id") % 1000).alias("v"),
    )


def test_salted_agg_matches_direct(spark):
    df = _skewed(spark)
    salted = two_phase_salted_agg(
        df,
        "k",
        {
            "total_v": (F.sum("v"), F.sum),
            "n_rows": (F.count(F.lit(1)), F.sum),
            "min_v": (F.min("v"), F.min),
            "max_v": (F.max("v"), F.max),
        },
        salt_buckets=16,
    )
    direct = df.groupBy("k").agg(
        F.sum("v").alias("total_v"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    key = lambda r: r["k"]
    assert sorted(salted.collect(), key=key) == sorted(direct.collect(), key=key)


def test_salt_spreads_hot_key(spark):
    df = _skewed(spark)
    salt = F.xxhash64(F.monotonically_increasing_id()) % 16
    buckets = (
        df.withColumn("__salt", salt)
        .filter(F.col("k") == 0)
        .select("__salt")
        .distinct()
        .count()
    )
    # the hot key's ~90k rows must occupy (nearly) all 16 salt buckets
    assert buckets >= 15


def _tiled(spark, n):
    # values deliberately heavy with ties (id % 7) so the unique-key
    # tie-break column carries the total order, exactly the RFM shape
    return spark.range(0, n).select(
        (F.col("id") % 7).alias("v"), F.col("id").alias("k")
    )


@pytest.mark.parametrize("n", [1, 2, 3, 5, 8, 100, 1001])
@pytest.mark.parametrize("buckets", [2, 4])
def test_ntile_cutpoints_match_window_ntile(spark, n, buckets):
    df = _tiled(spark, n)
    cuts = ntile_cutpoints(df, ["v", "k"], buckets, n_parts=8)
    got = {
        (r["k"], r["b"])
        for r in df.withColumn("b", ntile_assign(cuts, ["v", "k"])).collect()
    }
    want = {
        (r["k"], r["b"])
        for r in df.withColumn(
            "b", F.ntile(buckets).over(Window.orderBy("v", "k"))
        ).collect()
    }
    assert got == want


def test_ntile_cutpoints_empty_input(spark):
    df = _tiled(spark, 10).filter(F.lit(False))
    assert ntile_cutpoints(df, ["v", "k"], 4) == []


def test_ntile_cutpoints_driver_holds_only_scalars(spark):
    # the helper's two actions return n_parts counts + (buckets-1)
    # boundary rows — never the frame; assert the output size contract
    cuts = ntile_cutpoints(_tiled(spark, 10_000), ["v", "k"], 4, n_parts=16)
    assert len(cuts) == 3
    assert set(cuts[0].asDict()) >= {"v", "k"}


@pytest.mark.parametrize("sizes", [(1, 8, 100), (5, 5, 5), (97, 3, 1001)])
def test_ntile_cutpoints_multi_matches_window_per_dim(spark, sizes):
    from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
        ntile_cutpoints_multi,
    )

    # three dimensions of DIFFERENT sizes stacked long-form — including
    # dims small enough to share a range partition, the case where a
    # dim's local base offset inside the partition matters
    frames = []
    for d, n in zip("abc", sizes):
        frames.append(
            spark.range(0, n).select(
                F.lit(d).alias("dim"),
                (F.col("id") % 5).alias("v"),
                F.col("id").alias("k"),
            )
        )
    stacked = frames[0].unionByName(frames[1]).unionByName(frames[2])
    cuts = ntile_cutpoints_multi(stacked, "dim", ["v", "k"], 4, n_parts=4)
    for d, n in zip("abc", sizes):
        df = spark.range(0, n).select(
            (F.col("id") % 5).alias("v"), F.col("id").alias("k")
        )
        got = {
            (r["k"], r["b"])
            for r in df.withColumn(
                "b", ntile_assign(cuts[d], ["v", "k"])
            ).collect()
        }
        want = {
            (r["k"], r["b"])
            for r in df.withColumn(
                "b", F.ntile(4).over(Window.orderBy("v", "k"))
            ).collect()
        }
        assert got == want, f"dim {d} (n={n})"


def test_exact_order_statistics_match_sorted_list(spark):
    # (1, 2) and (2, 4) always share a row; (1, 1000) floors at
    # position 1; n = 1 puts every quantile on the same row; n_parts > n
    # leaves range partitions empty
    quantiles = [(1, 2), (2, 4), (1, 10), (9, 10), (1, 1), (1, 1000)]
    rng = random.Random(7)
    for n, n_parts in [(1, 4), (3, 8), (40, 8), (200, 3)]:
        rows = [(rng.randint(-9, 9), k) for k in range(n)]
        df = spark.createDataFrame(rows, "x long, k long")
        got = exact_order_statistics(df, ["x", "k"], quantiles, n_parts=n_parts)
        srt = sorted(rows)
        assert len(got) == len(quantiles)
        for (q, pos, row), (num, den) in zip(got, quantiles):
            want = max(1, -(-(num * n) // den))
            assert (q, pos) == ((num, den), want), (n, q)
            assert (row["x"], row["k"]) == srt[want - 1], (n, q)
    empty = spark.createDataFrame([], "x long, k long")
    assert exact_order_statistics(empty, ["x", "k"], quantiles) == []


def _running_sums(rows, inclusive):
    """{(dim, k): ((rank, Σv, Σw) through the row, universe totals)}
    over rows (dim, x, k, v, w) ordered by x DESC, k within each dim."""
    out = {}
    for dim in {r[0] for r in rows}:
        ordered = sorted(
            (r for r in rows if r[0] == dim), key=lambda r: (-r[1], r[2])
        )
        totals = (
            len(ordered),
            sum(r[3] for r in ordered),
            sum(r[4] for r in ordered),
        )
        acc = (0, 0, 0)
        for r in ordered:
            step = tuple(a + b for a, b in zip(acc, (1, r[3], r[4])))
            out[(dim, r[2])] = (step if inclusive else acc, totals)
            acc = step
    return out


@pytest.mark.parametrize("n_parts", [1, 7])
@pytest.mark.parametrize("inclusive", [True, False])
def test_global_prefix_matches_python_running_sums(spark, n_parts, inclusive):
    rng = random.Random(n_parts * 2 + inclusive)
    big = 2**70  # decimal(38,0) sums far past int64
    # "a" spreads over the range partitions; "b" has two rows, so with
    # several partitions it is absent from most of them
    rows = [
        (
            dim,
            rng.randint(-3, 3),
            k,
            rng.randint(-50, 50),
            Decimal(rng.randint(0, 3) * big + rng.randint(-9, 9)),
        )
        for dim, n in (("a", 60), ("b", 2))
        for k in range(n)
    ]
    df = spark.createDataFrame(
        rows, "dim string, x long, k long, v long, w decimal(38,0)"
    )
    out = global_prefix(
        df,
        [F.col("x").desc(), "k"],
        {"r": F.lit(1), "sv": F.col("v"), "sw": F.col("w")},
        by=["dim"],
        inclusive=inclusive,
        n_parts=n_parts,
    )
    types = dict(out.dtypes)
    assert {types[c] for c in ("r", "sv", "r_total", "sv_total")} == {"bigint"}
    assert {types["sw"], types["sw_total"]} == {"decimal(38,0)"}
    got = {(r["dim"], r["k"]): r for r in out.collect()}
    want = _running_sums(rows, inclusive)
    assert set(got) == set(want)
    for key, (through, totals) in want.items():
        g = got[key]
        assert (g["r"], g["sv"], g["sw"]) == through, key
        assert (g["r_total"], g["sv_total"], g["sw_total"]) == totals, key
    if n_parts > 1:
        pids = {d: {g["pid"] for (dd, _), g in got.items() if dd == d} for d in "ab"}
        assert len(pids["a"]) > 1  # offsets fold across partitions
        assert len(pids["b"]) < n_parts


def test_global_prefix_empty_input(spark):
    empty = spark.createDataFrame([], "dim string, k long, w decimal(38,0)")
    for by in ([], ["dim"]):
        out = global_prefix(empty, ["k"], {"sw": F.col("w")}, by=by)
        assert out.columns == ["dim", "k", "w", "pid", "sw", "sw_total"]
        assert out.collect() == []
