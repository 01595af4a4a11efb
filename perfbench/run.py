#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload fgac_consumer_ingest --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. Everything the run writes (generated
tables, warehouses, Spark scratch, event logs, the result artifact)
goes under ``.perfbench/`` there; bulky parts are removed at the end.
With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run as a script, this directory heads sys.path and its module names
# (trace, stats) would shadow the standard library's
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
WORKLOADS = ("fgac_consumer_ingest", "analytics_suite")
HEAP = "2g"
# end-to-end metric -> unit, in BENCHMARK.json order
END_TO_END = {"setup_s": "s", "op_cpu_ms": "ms", "peak_rss_mb": "MB"}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_jiffies() -> list[int]:
    """The aggregate cpu line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(start: list[int], end: list[int]) -> float:
    """Share of the box's CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _prepare_env(run_dir: str, cpus: int) -> None:
    """Confine Spark, the JVM and Python temp files to the run directory
    and size the session to this box. Must run before pyspark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed-size heap: GC work then does not depend on how far the
    # heap happened to grow in this run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    load_start = _loadavg()
    steal_start = _cpu_jiffies()
    cpus = os.cpu_count() or 1
    run_dir = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(run_dir, exist_ok=True)
    _prepare_env(run_dir, cpus)
    sys.path.insert(0, ROOT)

    # the engine package: a checkout without it fails here, before any result
    import pyspark
    from sample_emr_on_eks_fgac_iceberg_spark import build_session

    from perfbench import stats
    from perfbench.harness import Harness, peak_rss_mb, stop_spark
    from perfbench.layers import instrument, layer_metrics, metric_units
    from perfbench.sparkstats import read_event_logs

    trace = bool(args.trace)
    event_dir = os.path.join(run_dir, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = build_session(
        app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]", extra_conf=conf
    )
    session_build_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    h = Harness(spark, trace)
    if trace:
        instrument(h.tracer)
    # measurements beside the metrics: into the artifact, and the
    # per-layer ones into layer_metrics
    info: dict = {"session_build_s": session_build_s}
    try:
        if args.workload == "analytics_suite":
            from perfbench import analytics

            data_dir, setup_times = analytics.setup(run_dir, args.seed)
            t0 = time.perf_counter()
            want = analytics.expected(data_dir)
            info["oracle_s"] = time.perf_counter() - t0
            names = analytics.order(args.seed)
            t0 = time.perf_counter()
            analytics.warm_up(h, spark, data_dir, names, want)
            info["warmup_s"] = time.perf_counter() - t0
            analytics.timed_passes(h, spark, data_dir, names, args.seconds, info)
            kinds = list(analytics.QUERIES)
            n = len(names)
            job_ms = [sum(h.unit_ms[i:i + n]) for i in range(0, len(h.unit_ms), n)]
        else:
            from perfbench import fgac

            engine, model, setup_times = fgac.setup(spark, run_dir, args.seed)
            info.update(fgac.consumer_ingest(h, engine, model, args.seed, args.seconds))
            kinds = list(fgac.KINDS)
            job_ms = h.unit_ms
            if trace:
                info.update(fgac.storage_counters(engine, model))
        rss = peak_rss_mb()
        props = spark.sparkContext._jvm.System
        jdk = f"{props.getProperty('java.vm.name')} {props.getProperty('java.version')}"
    finally:
        stop_spark(spark)

    setup_s = session_build_s + stats.median(setup_times)
    per_kind = {k: stats.summarize(h.kind_ms(k)) for k in h.samples}
    missing = [k for k in kinds if not h.kind_ms(k)]
    if missing:
        h.fail(f"no samples of {missing}")

    # geomeans of the per-kind medians; the wall one is recorded, not gated
    latency = {
        "op_geomean_ms": stats.geomean(stats.median(h.kind_ms(k)) for k in kinds),
        "op_cpu_ms": stats.geomean(stats.median(h.cpu_samples[f"work:{k}"]) for k in kinds),
    }
    if trace:
        metrics = layer_metrics(h, read_event_logs(event_dir), {**info, "peak_rss_mb": rss})
        planned = info.get("denied_planned", 0)
        if metrics["policy.denied"] != planned:
            h.fail(f"policy.denied {metrics['policy.denied']} != planned {planned}")
        units = metric_units()
    else:
        metrics = {"setup_s": setup_s, "op_cpu_ms": latency["op_cpu_ms"], "peak_rss_mb": rss}
        units = END_TO_END

    result = {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": {
            "nproc": cpus,
            "loadavg_start": load_start,
            "loadavg_end": _loadavg(),
            "steal_frac": _steal_frac(steal_start, _cpu_jiffies()),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "jdk": jdk,
        },
        "setup_s": setup_s,
        **latency,
        "peak_rss_mb": rss,
        "setup_repeats_s": setup_times,
        "measured_s": h.measured_s,
        "wall_s": time.perf_counter() - t_start,
        "units": {"n": len(job_ms), "ms": job_ms},
        "ops": per_kind,
        "ops_cpu": {k: stats.summarize(v) for k, v in h.cpu_samples.items()},
        "failed_frac": h.failed / max(1, h.attempted),
        "failures": h.failures,
        **info,
        "result": result,
    }
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, os.path.basename(run_dir))
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if trace:
        h.tracer.dump(stem + ".spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    for line in h.failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
