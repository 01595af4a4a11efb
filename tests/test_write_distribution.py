"""Write distribution: every partitioned data write goes through
``Warehouse._write_data``, which clusters rows by the directory columns
(REBALANCE) before the partitioned write — Iceberg's hash write
distribution. So one write lands each partition value in about one
file, however many slices the input frame has, and the table's WRITE
ORDERED BY survives inside every file. Compaction keeps its own
distribution (its planned output file count), and z-order compaction
keeps every output file sorted by the z-value.

The projection helper ``cast_projection`` is pinned here too: one
``selectExpr`` must build the same analyzed plan as the per-column
``F.col(n).cast(t).alias(n)`` projection it replaced.
"""

import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_emr_on_eks_fgac_iceberg_spark import healthcare
from sample_emr_on_eks_fgac_iceberg_spark.sources.iceberg_bucket import bucket_expr
from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
    Warehouse,
    cast_projection,
)

SCHEMA = "k BIGINT, city STRING, v INT, w INT"
CITIES = ("a", "b", "c", "d", "e", "f")


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _rows(n):
    return [(i, CITIES[i % 6], (i * 7919) % 1000, (i * 53) % 97) for i in range(n)]


def _insert_sliced(spark, wh, name, rows, slices):
    batch = spark.sparkContext.parallelize(rows, slices)
    wh.insert_into(name, spark.createDataFrame(batch, SCHEMA))


def _live(wh, name):
    return sorted(wh._live_files(wh._read_meta(name)))


def _column(wh, name, f, col):
    return pq.read_table(os.path.join(wh.data_dir(name), f)).column(col).to_pylist()


def test_insert_from_many_slices_leaves_one_file_per_partition(spark, wh):
    rows = _rows(240)
    wh.create_table("t", SCHEMA, partition_by=["city"])
    _insert_sliced(spark, wh, "t", rows, 40)
    files = _live(wh, "t")
    assert sorted(f.split("/")[0] for f in files) == [f"city={c}" for c in CITIES]
    assert sorted(tuple(r) for r in wh.read_table("t").collect()) == sorted(rows)


def test_write_ordered_by_holds_for_partitioned_table_from_many_slices(spark, wh):
    wh.create_table("t", SCHEMA, partition_by=["city"])
    wh.alter_write_order("t", ["v"])
    _insert_sliced(spark, wh, "t", _rows(2400), 40)  # ~10 rows per slice and city
    for f in _live(wh, "t"):
        vals = _column(wh, "t", f, "v")
        assert vals == sorted(vals), f"file {f} not sorted: {vals}"


def test_transform_partitions_cluster_by_directory_value(spark, wh):
    wh.create_table("t", SCHEMA, partition_by=["bucket(4, k)"])
    _insert_sliced(spark, wh, "t", _rows(240), 40)
    dirs = [f.split("/")[0] for f in _live(wh, "t")]
    assert sorted(dirs) == sorted(set(dirs)) and len(dirs) == 4


def _planned_out(wh, name, target):
    data = wh.data_dir(name)
    total = sum(os.path.getsize(os.path.join(data, f)) for f in _live(wh, name))
    return -(-total // target)


def test_binpack_compaction_keeps_its_planned_file_count(spark, wh):
    # bin-pack hash-clusters on the SOURCE column k into n_out tasks, so
    # each task writes one file per bucket it holds; a rebalance on the
    # k_bucket directory column would collapse that to one file per bucket
    wh.create_table("t", SCHEMA, partition_by=["bucket(4, k)"])
    rows = _rows(3000)
    for s in range(3):
        _insert_sliced(spark, wh, "t", rows[s::3], 4)
    target = 4000
    n_out = _planned_out(wh, "t", target)
    assert n_out > 4
    # repartition(n_out, k) places a row in task pmod(murmur3(k), n_out)
    expected = (
        wh.read_table("t")
        .select(F.pmod(F.hash("k"), F.lit(n_out)), bucket_expr("k", 4, "bigint"))
        .distinct()
        .count()
    )
    stats = wh.compact_table("t", target_file_bytes=target)
    assert stats["added_files"] == expected > 4
    assert sorted(tuple(r) for r in wh.read_table("t").collect()) == sorted(rows)


def test_zorder_compaction_keeps_range_files_sorted_by_z(spark, wh):
    wh.create_table("z", SCHEMA, partition_by=["city"])
    rows = [(i, ("a", "b")[i % 2], (i * 37) % 101, (i * 53) % 97) for i in range(2000)]
    for s in range(3):
        wh.insert_into("z", spark.createDataFrame(rows[s::3], SCHEMA))
    wh.alter_write_order("z", ["k"])  # the z-key wins over the write order
    target = 4000
    n_out = _planned_out(wh, "z", target)
    assert n_out > 2
    stats = wh.compact_table("z", target_file_bytes=target, zorder_by=["v", "w"])
    # every range partition holds both cities: one file per (range, city)
    assert stats["added_files"] == 2 * n_out
    zc = wh._zorder_column(wh.read_table("z"), ["v", "w"])
    for f in _live(wh, "z"):
        vw = list(zip(_column(wh, "z", f, "v"), _column(wh, "z", f, "w")))
        df = spark.createDataFrame(
            [(i, v, w) for i, (v, w) in enumerate(vw)], "i INT, v INT, w INT"
        )
        z = [r[0] for r in df.select(zc, "i").orderBy("i").collect()]
        assert z == sorted(z), f"file {f} not sorted by z"
    assert sorted(tuple(r) for r in wh.read_table("z").collect()) == sorted(rows)


def test_unpartitioned_write_keeps_the_input_distribution(spark, wh):
    wh.create_table("flat", SCHEMA)
    _insert_sliced(spark, wh, "flat", _rows(240), 8)
    assert len(_live(wh, "flat")) == 8


# ------------------------------------------------ projection helper
def _plan(df):
    return re.sub(r"#\d+", "", df._jdf.queryExecution().analyzed().toString())


def _declared_fields():
    fields = {}
    for ddl in (healthcare.PATIENTS_SCHEMA, healthcare.CLAIMS_SCHEMA):
        for f in T._parse_datatype_string(ddl).fields:
            fields.setdefault(f.name, f)
    nested = T.StructType(
        [
            T.StructField("a`b c", T.IntegerType()),
            T.StructField(
                "in ner",
                T.StructType([T.StructField("x.y", T.StringType(), False)]),
            ),
        ]
    )
    return [*fields.values(), T.StructField("nest ed", nested)]


def test_cast_projection_plan_equals_per_column_casts(spark):
    fields = _declared_fields()
    text = {
        "bigint": "12",
        "date": "2024-01-02",
        "decimal(10,2)": "12.5",
        "timestamp": "2024-01-02 03:04:05",
    }
    src = spark.range(1).selectExpr(
        *[
            f"'{text.get(f.dataType.simpleString(), 'x')}' AS `{f.name}`"
            for f in fields
            if not isinstance(f.dataType, T.StructType)
        ],
        "named_struct('a`b c', 1L, 'in ner', named_struct('x.y', 'v')) AS `nest ed`",
    )
    old = src.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields])
    new = src.selectExpr(*cast_projection(fields))
    assert _plan(new) == _plan(old)
    assert new.schema == old.schema
    assert new.collect() == old.collect()

    # a field added after the file was written reads as a typed NULL
    present = {f.name for f in fields[1:]}
    old = src.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in present
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in fields
        ]
    )
    new = src.selectExpr(*cast_projection(fields, present))
    assert _plan(new) == _plan(old)
