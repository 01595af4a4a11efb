"""Per-layer metrics of a traced run.

``instrument`` registers a span on the public functions of each engine
layer; ``layer_metrics`` turns the recorded spans, the per-op Spark
counters and the event log into the ``per_layer`` metrics of
BENCHMARK.json. Every metric is emitted on every workload; a layer the
workload does not reach reads 0.
"""

from __future__ import annotations

from perfbench import stats
from perfbench.sparkstats import driver_gap_s
from perfbench.trace import descendants, self_times

COMMIT_KINDS = ("insert", "merge", "delete")


def instrument(tracer) -> None:
    from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
    from sample_emr_on_eks_fgac_iceberg_spark.policy import SecureSession
    from sample_emr_on_eks_fgac_iceberg_spark.sources import (
        iceberg_manifests,
        iceberg_metadata,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

    tracer.patch(FgacEngine, "session_for", "engine.session_for")
    tracer.patch(FgacEngine, "sql", "engine.sql")
    tracer.patch(SecureSession, "__init__", "policy.session_init")
    tracer.patch(SecureSession, "sql", "policy.sql")
    tracer.patch(SecureSession, "table", "policy.table")
    tracer.patch(SqlFrontend, "execute", "sql_frontend.execute")
    for name in (
        "read_table",
        "state_token",
        "insert_into",
        "merge_into",
        "delete_from",
    ):
        tracer.patch(Warehouse, name, f"warehouse.{name}")
    tracer.patch(iceberg_metadata, "emit_metadata", "iceberg_metadata.emit")
    tracer.patch(iceberg_manifests, "emit_manifests", "iceberg_manifests.emit")


def metric_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in BENCHMARK.json order."""
    from perfbench.analytics import QUERIES

    return {
        "session.build_s": "s",
        "policy.session_init_ms": "ms",
        "policy.sql_ms": "ms",
        "policy.sql_self_ms": "ms",
        "policy.view_rebuilds_per_query": "count",
        "policy.write_self_ms": "ms",
        "policy.denied": "count",
        "sql_frontend.execute_ms": "ms",
        "sql_frontend.execute_self_ms": "ms",
        "warehouse.read_table_ms": "ms",
        "warehouse.read_table_calls": "count",
        "warehouse.live_files": "count",
        "warehouse.state_token_ms": "ms",
        "warehouse.insert_into_ms": "ms",
        "warehouse.merge_into_ms": "ms",
        "warehouse.delete_from_ms": "ms",
        "warehouse.bytes_written_per_commit": "bytes",
        "warehouse.files_added_per_commit": "count",
        "warehouse.stored_bytes_per_user_byte": "ratio",
        "iceberg_metadata.emit_ms": "ms",
        "iceberg_manifests.emit_ms": "ms",
        "iceberg_metadata.bytes_per_commit": "bytes",
        **{f"operators.{q}_s": "s" for q in QUERIES},
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.driver_gap_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.jvm_gc_s": "s",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "arrow.python_udf_s": "s",
        "process.peak_rss_mb": "MB",
        "trace.overhead_frac": "ratio",
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def tracing_overhead(harness) -> float:
    """Geometric mean over op kinds of traced / untraced median latency,
    minus one; the two halves of a traced run are interleaved units."""
    ratios = []
    for kind in harness.samples:
        on, off = harness.kind_ms(kind, True), harness.kind_ms(kind, False)
        if on and off:
            ratios.append(stats.median(on) / stats.median(off))
    return stats.geomean(ratios) - 1.0 if ratios else 0.0


def layer_metrics(harness, events: dict, info: dict) -> dict[str, float]:
    """``events``: op id -> parsed event-log aggregates; ``info``:
    values the workload measured itself (build time, file and byte
    counts, UDF profile seconds)."""
    spans = harness.tracer.spans
    selfs = self_times(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    op_kind = {r["id"]: r["kind"] for r in harness.op_records}

    def durs(name, pred=lambda s: True):
        return [s.dur * 1000.0 for s in by_name.get(name, ()) if pred(s)]

    def self_ms(name, pred=lambda s: True):
        return [selfs[s.id] * 1000.0 for s in by_name.get(name, ()) if pred(s)]

    def is_write(s):
        return op_kind.get(s.op) in COMMIT_KINDS

    def is_read(s):
        return not is_write(s)

    # a read_table through a resource link recurses into read_table of
    # its target: count the outer call only
    span_name = {s.id: s.name for s in spans}

    def top_read(s):
        return span_name.get(s.parent) != "warehouse.read_table"

    rebuilds = [
        sum(
            1
            for d in descendants(spans, s.id)
            if d.name == "warehouse.read_table" and top_read(d)
        )
        for s in by_name.get("policy.sql", ())
        if is_read(s)
    ]
    n_ops = len(harness.op_records)
    reads = [s for s in by_name.get("warehouse.read_table", ()) if top_read(s)]

    m: dict[str, float] = dict.fromkeys(metric_units(), 0.0)
    m["session.build_s"] = info.get("session_build_s", 0.0)
    m["policy.session_init_ms"] = stats.median(durs("policy.session_init"))
    m["policy.sql_ms"] = stats.median(durs("policy.sql", is_read))
    m["policy.sql_self_ms"] = stats.median(self_ms("policy.sql", is_read))
    m["policy.view_rebuilds_per_query"] = _mean(rebuilds)
    m["policy.write_self_ms"] = stats.median(self_ms("policy.sql", is_write))
    m["policy.denied"] = sum(
        1 for s in by_name.get("policy.sql", ()) if s.error == "AccessDeniedException"
    )
    m["sql_frontend.execute_ms"] = stats.median(durs("sql_frontend.execute"))
    m["sql_frontend.execute_self_ms"] = stats.median(self_ms("sql_frontend.execute"))
    m["warehouse.read_table_ms"] = stats.median(s.dur * 1000.0 for s in reads)
    m["warehouse.read_table_calls"] = len(reads) / n_ops if n_ops else 0.0
    m["warehouse.state_token_ms"] = stats.median(durs("warehouse.state_token"))
    for op in ("insert_into", "merge_into", "delete_from"):
        m[f"warehouse.{op}_ms"] = stats.median(durs(f"warehouse.{op}"))
    m["iceberg_metadata.emit_ms"] = stats.median(durs("iceberg_metadata.emit"))
    m["iceberg_manifests.emit_ms"] = stats.median(durs("iceberg_manifests.emit"))
    for key in (
        "warehouse.live_files",
        "warehouse.bytes_written_per_commit",
        "warehouse.files_added_per_commit",
        "warehouse.stored_bytes_per_user_byte",
        "iceberg_metadata.bytes_per_commit",
    ):
        m[key] = float(info.get(key, 0.0))
    for name in m:
        if name.startswith("operators."):
            q = name[len("operators."):-len("_s")]
            m[name] = stats.median(d / 1000.0 for d in harness.kind_ms(q, True))

    if n_ops:
        recs = harness.op_records
        m["spark.jobs_per_op"] = _mean(r["jobs"] for r in recs)
        m["spark.stages_per_op"] = _mean(r["stages"] for r in recs)
        m["spark.tasks_per_op"] = _mean(r["tasks"] for r in recs)
        m["spark.driver_gap_s"] = _mean(
            driver_gap_s(r["start"], r["end"], events.get(r["id"], {}).get("jobs", ()))
            for r in recs
        )

        def per_op(key, scale=1.0):
            return _mean(events.get(r["id"], {}).get(key, 0) * scale for r in recs)

        m["spark.executor_run_s"] = per_op("executor_run_ms", 1e-3)
        m["spark.executor_cpu_s"] = per_op("executor_cpu_ns", 1e-9)
        m["spark.jvm_gc_s"] = per_op("gc_ms", 1e-3)
        m["spark.shuffle_read_bytes"] = per_op("shuffle_read_bytes")
        m["spark.shuffle_write_bytes"] = per_op("shuffle_write_bytes")
        m["spark.spill_bytes"] = per_op("spill_bytes")
        m["arrow.python_udf_s"] = info.get("python_udf_s", 0.0) / n_ops
    m["process.peak_rss_mb"] = info.get("peak_rss_mb", 0.0)
    m["trace.overhead_frac"] = tracing_overhead(harness)
    return m
