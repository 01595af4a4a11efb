"""The ``analytics_suite`` workload: sequential passes over a subset of
the operator registry on the trusted session, no policy in the path.

The subset is the queries whose shapes are still being settled: the
distributed-rank users (weighted median, Kruskal-Wallis), the dedup and
ANN rewrites (MinHash calibration, PQ/ADC), and the mapInPandas raster
decode for the Arrow boundary. Tables are generated from the seed at a
small scale factor, so each query is a few Spark jobs of short tasks:
per-query driver work (planning, barriers, py4j) weighs as much as
executor scan, shuffle and the Arrow boundary.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import time

from perfbench import gen
from perfbench.expect import frame_digest, oracle_digests

SF = 0.001
SETUP_REPEATS = 3
QUERIES = (
    "lineitem_weighted_median_price",  # relational, rank idiom
    "kruskal_wallis_priority",  # nonparam, rank idiom
    "dedup_minhash_calibration",  # dedup
    "ann_pq_adc",  # similarity
    "multimodal_image_stats",  # multimodal, mapInPandas
)
UDF_PROFILER_CONF = "spark.sql.pyspark.udf.profiler"


def setup(run_dir: str, seed: int) -> tuple[str, list[float]]:
    """Generate and write the tables SETUP_REPEATS times; return the
    directory in use and the seconds each write took."""
    times, data_dir = [], None
    for k in range(SETUP_REPEATS):
        if data_dir is not None:
            shutil.rmtree(data_dir, ignore_errors=True)
        data_dir = os.path.join(run_dir, f"data{k}")
        t0 = time.perf_counter()
        gen.write_tables(gen.analytics_tables(seed, SF), data_dir)
        times.append(time.perf_counter() - t0)
    return data_dir, times


def expected(data_dir: str) -> dict:
    from sample_emr_on_eks_fgac_iceberg_spark.operators import ORACLE
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import TABLE_NAMES

    return oracle_digests(data_dir, TABLE_NAMES, {q: ORACLE[q] for q in QUERIES})


def release_blocks(spark) -> None:
    """Drop cached tables and the persisted RDDs that lazy
    localCheckpoint barriers leave behind, so one query's blocks do
    not inflate the next query's GC time."""
    gc.collect()
    spark.catalog.clearCache()
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = persisted.iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


def order(seed: int) -> list[str]:
    names = list(QUERIES)
    random.Random(f"analytics:{seed}").shuffle(names)
    return names


def warm_up(h, spark, data_dir: str, names, want: dict) -> None:
    """Untimed warm-up pass: run every query to the driver and compare
    it with its oracle."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES as REGISTRY

    for q in names:
        release_blocks(spark)

        def check(pdf, err, q=q):
            if err is not None:
                return False
            return (sorted(pdf.columns), *frame_digest(pdf)) == want[q]

        h.op(q, lambda q=q: REGISTRY[q](spark, data_dir).toPandas(), check, record=False)


def timed_passes(h, spark, data_dir: str, names, seconds: float, info: dict) -> None:
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES as REGISTRY

    tracer = h.tracer
    info.setdefault("python_udf_s", 0.0)
    for i in h.units(seconds, multiple_of=len(names)):
        q = names[i % len(names)]
        release_blocks(spark)

        def run(q=q):
            if tracer is not None and h.tracing:
                with tracer.span(f"operators.{q}.plan"):
                    df = REGISTRY[q](spark, data_dir)
            else:
                df = REGISTRY[q](spark, data_dir)
            df.write.mode("overwrite").format("noop").save()

        profiled = h.next_op_traced
        if profiled:
            spark.profile.clear()
            spark.conf.set(UDF_PROFILER_CONF, "perf")
        try:
            h.op(q, run)
        finally:
            if profiled:
                spark.conf.unset(UDF_PROFILER_CONF)
                info["python_udf_s"] += udf_profile_seconds(spark)


def udf_profile_seconds(spark) -> float:
    """Python time the UDF profiler recorded since the last clear."""
    collector = spark.profile.profiler_collector
    return sum(st.total_tt for st in collector._perf_profile_results.values())
