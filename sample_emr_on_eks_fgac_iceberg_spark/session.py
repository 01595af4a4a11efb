"""SparkSession factory.

Mirrors the reference's runtime wiring (SURVEY.md §2 E1/E2: Iceberg
extensions + catalog confs at
consumer_account_setup/consumer_emr_on_eks_setup.sh:440-449) translated
to a local/single-JVM posture, with the 100 TB-scale knobs on by
default:

- AQE (runtime re-planning, skew-join splitting, partition coalescing),
- broadcast threshold for dim tables,
- vectorized parquet reader + whole-stage codegen (Spark defaults, kept
  explicit so the posture is auditable),
- Arrow for any pandas_udf paths,
- UTC session timezone so timestamp semantics match the DuckDB oracle.

Iceberg is wired only when an iceberg-spark runtime jar is actually
available (none is baked into this container); the engine's warehouse
layer (sources/warehouse.py) provides identity-partitioned parquet
tables with the same logical behavior either way.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Warehouse scans hand the reader the exact data files the manifest log
# names. Above this many paths Spark would start a distributed job to
# list them again; the manifest already is the file listing, so the
# paths are only stat'ed on the driver. Set before getOrCreate, so the
# engine's session and every newSession() (SecureSession, the
# frontend's scratch sessions) start from it. This assumes a local or
# HDFS-like filesystem, where a stat is cheap: on object storage one
# sequential metadata call per file would cost more, for tables of many
# files, than Spark's parallel listing did.
PARTITION_DISCOVERY_THRESHOLD = 1_000_000
# Spark compiles each generated class (whole-stage code, projections,
# predicates) once per entry of one JVM-wide cache, which holds 100
# entries by default. The analytics_suite five compile 199 classes a
# pass, so each pass evicted the last one's classes, compiled them all
# again and ran them in the JVM interpreter until the JIT warmed again.
# The census (CODEGEN_CENSUS.json, tools/profile.py) sizes the cache
# from bench.py's 202 headline queries: their working set is ~3,100
# classes, which cost 24 MB more Metaspace than 100 entries (and ~0.1 GB
# of heap, mostly generated source), so it holds all of them with ~26%
# headroom for classes that carry inlined literals. The conf is static
# and the cache is built by whichever session compiles first, so it is
# set before the context starts.
CODEGEN_CACHE_ENTRIES = 4_000


def _find_iceberg_jar() -> str | None:
    """Locate an iceberg-spark-runtime jar if one exists locally."""
    candidates = []
    env = os.environ.get("ICEBERG_SPARK_JAR")
    if env and os.path.exists(env):
        return env
    try:
        import pyspark

        jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        candidates = glob.glob(os.path.join(jars_dir, "iceberg-spark-runtime*.jar"))
    except Exception:
        pass
    return candidates[0] if candidates else None


def build_session(
    app_name: str = "fgac-iceberg-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession.

    Parameters mirror the reference's spark-submit confs
    (consumer_emr_on_eks_setup.sh:434) but sized for local[N]. On a
    real cluster the same factory is used with ``master=None`` (inherit
    from spark-submit) and cluster-level executor sizing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- scale posture ------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(PARTITION_DISCOVERY_THRESHOLD),
        )
        # InferFiltersFromGenerate turns explode(expensive_expr) into
        # pushed-down filters `size(expensive_expr) > 0 AND
        # isnotnull(expensive_expr)` by *substituting the whole
        # expression*, which then re-evaluates it per input row — below
        # any repartition, i.e. single-task on a one-file scan
        # (measured 9.8 s of a 13 s dedup query). The inference only
        # prunes empty-array rows early; operators that care filter
        # explicitly, so exclude the rule.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # --- determinism for the DuckDB oracle ---------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # parquet files written by pyarrow carry no UTC-adjustment flag;
        # read them as TIMESTAMP_NTZ so values match DuckDB's naive
        # timestamps bit-for-bit.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS); read nanos
        # as long (converted JVM-side in sources/tables._load_events).
        # Set here so sessions from this factory never mutate confs at
        # load time; the loader keeps a guarded fallback for
        # caller-provided sessions (the driver's own SparkSession).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers fork from the engine's daemon, which stops each
        # task from re-reading pyspark.zip's index (pydaemon.py)
        .config("spark.python.daemon.module", "sample_emr_on_eks_fgac_iceberg_spark.pydaemon")
    )

    iceberg_jar = _find_iceberg_jar()
    if iceberg_jar and warehouse_dir:
        # The reference's exact catalog wiring
        # (consumer_emr_on_eks_setup.sh:440-449), with type=hadoop +
        # a local warehouse dir standing in for GlueCatalog/S3FileIO.
        builder = (
            builder.config("spark.jars", iceberg_jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.dev", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.dev.type", "hadoop")
            .config("spark.sql.catalog.dev.warehouse", warehouse_dir)
            .config("spark.sql.defaultCatalog", "dev")
        )

    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    return builder.getOrCreate()


def new_session(spark: SparkSession) -> SparkSession:
    """``spark.newSession()`` (its own temp views, functions and SQL
    conf) that starts from ``spark``'s SQL conf, where newSession() starts
    from the context's: a time zone, ANSI or store-assignment policy,
    broadcast threshold or Parquet write setting set on ``spark`` applies
    to what the sub-session plans, evaluates and writes. The
    SecureSession's and the SQL frontend's statement sessions."""
    sub = spark.newSession()
    jvm = spark._jvm
    confs = jvm.java.util.Properties()
    confs.putAll(
        jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            spark._jsparkSession.sessionState().conf().getAllConfs()
        )
    )
    sub._jsparkSession.sessionState().conf().setConf(confs)
    return sub


def has_iceberg() -> bool:
    return _find_iceberg_jar() is not None
