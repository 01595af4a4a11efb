"""Codegen census: how many classes Spark's code generator compiles for
each named registry query and each operation of the FGAC statement mix,
over two runs in one session, with the compile time, the generated
bytecode and the CPU of each, and the JVM's Metaspace after each pass.

    python3 tools/profile.py [--sf DIR (--queries a,b | --headline)]
        [--fgac] [--runs 2] [--cache-entries N] [--out FILE]

A pass runs every named query, then the FGAC mix. Registry queries run
as ``bench.py`` runs them: its JVM flags and warm-up first, then each
query through a ``noop`` sink after the previous query's blocks are
released. ``--headline`` names bench.py's HEADLINE list. ``--fgac``
builds the fixture of perfbench's ``fgac_consumer_ingest`` and runs its
unit once per pass: a team1 consumer job (session_open, scan, join,
state_agg, point, table, team2's denied read), then INSERT, MERGE and
DELETE through the writer's session, each followed by team1's
fresh_read. Every op goes through perfbench's Harness, so its CPU is
split into work, JIT and GC threads as the benchmark splits it.

The codegen numbers come from Spark's CodegenMetrics (one compilation
time sample per compiled class; the generated class bytecode sizes),
CodeGenerator.compileTime and the codegen cache's keys (the generated
source): ``recompiled`` counts the classes an op compiled from source an
earlier op of the census had compiled already, which the cache evicted
in between (exact while no class is compiled and evicted within one
op). The bytecode histogram keeps a decaying
sample by default; the census gives it a sliding window longer than any
run, so the sum of its samples is exact. Memory comes from the JVM's
memory-pool beans, read after a full GC: Metaspace then holds the
classes still reachable (the cache's), not evicted ones awaiting
collection. ``--cache-entries`` sets ``spark.sql.codegen.cache.maxEntries``
(the engine's size is session.CODEGEN_CACHE_ENTRIES; Spark's own is 100).

Prints one JSON document (and writes it to ``--out``): ``cache_entries``,
``passes`` (per pass: compiles, compile_ms, bytecode_bytes,
recompiled, the cache's entries and the memory pools after it: heap,
Metaspace, class space, code cache, loaded classes) and
``items`` (per query or FGAC op kind, one record per pass: ops,
wall_ms, cpu_work_ms, cpu_jit_ms, cpu_gc_ms, compiles, compile_ms,
bytecode_bytes, recompiled); ``failures`` lists failed ops.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # the repository root replaces the script's directory, which would
    # shadow the standard library's ``profile`` module (cProfile, and so
    # pyspark, imports it)
    sys.path[0] = ROOT

from perfbench.harness import Harness  # noqa: E402

FGAC_SEED = 7
# samples the bytecode histogram keeps: more classes than any run compiles
BYTECODE_WINDOW = 1 << 20
_MB = 1024.0 * 1024.0


def codegen_counters(jvm) -> dict:
    """This JVM's codegen totals so far: classes compiled (cache
    misses), compile time and generated bytecode."""
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    snap = metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getSnapshot()
    return {
        "compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
        "compile_ms": jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6,
        "bytecode_bytes": round(snap.getMean() * snap.size()),
    }


def exact_bytecode_sum(jvm) -> None:
    """Give the bytecode histogram a sliding window of BYTECODE_WINDOW
    samples, so that its mean times its size is the exact sum."""
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE()
    field = jvm.java.lang.Class.forName("com.codahale.metrics.Histogram").getDeclaredField("reservoir")
    field.setAccessible(True)
    if field.get(hist).getClass().getSimpleName() != "SlidingWindowReservoir":
        field.set(hist, jvm.com.codahale.metrics.SlidingWindowReservoir(BYTECODE_WINDOW))


def codegen_cache(jvm):
    """Spark's codegen cache (a Guava cache: source → compiled class)."""
    owner = jvm.java.lang.Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    method = owner.getDeclaredMethod("cache", None)
    method.setAccessible(True)
    return method.invoke(owner.getField("MODULE$").get(None), None).cache()


def memory_pools(jvm) -> dict:
    """Heap, Metaspace, compressed class space and code cache in use,
    and the loaded class count, after a full GC."""
    jvm.java.lang.System.gc()
    management = jvm.java.lang.management.ManagementFactory
    used = {p.getName(): p.getUsage().getUsed() for p in management.getMemoryPoolMXBeans()}
    return {
        "heap_mb": round(management.getMemoryMXBean().getHeapMemoryUsage().getUsed() / _MB, 1),
        "metaspace_mb": round(used.get("Metaspace", 0) / _MB, 1),
        "class_space_mb": round(used.get("Compressed Class Space", 0) / _MB, 1),
        "code_cache_mb": round(sum(v for k, v in used.items() if k.startswith("CodeHeap")) / _MB, 1),
        "loaded_classes": management.getClassLoadingMXBean().getLoadedClassCount(),
    }


class Census(Harness):
    """perfbench's Harness that also adds up, per pass and op kind, the
    codegen counters and the CPU of every op, and counts the classes an
    op recompiled: source the census saw compiled before, so the cache
    evicted it since."""

    def __init__(self, spark):
        super().__init__(spark, trace=False)
        self.jvm = spark._jvm
        exact_bytecode_sum(self.jvm)
        self.cache = codegen_cache(self.jvm).asMap()
        # the hash of every cache key (loader, source) an op added; the
        # keys themselves would keep evicted source alive in the heap
        self.compiled: set[int] = set()
        self.prefix = ""
        self.passes: list[dict] = []

    def op(self, kind: str, fn, check=None, record: bool = True):
        keys = self.jvm.java.util.HashSet(self.cache.keySet())
        before = codegen_counters(self.jvm)
        # always recorded: the op's CPU is read from its recorded sample
        result, ms = super().op(kind, fn, check, record=True)
        after = codegen_counters(self.jvm)
        added = self.jvm.java.util.HashSet(self.cache.keySet())
        added.removeAll(keys)
        hashes, it = set(), added.iterator()
        while it.hasNext():
            hashes.add(it.next().hashCode())
        again = len(hashes & self.compiled)
        self.compiled |= hashes
        rec = self.passes[-1].setdefault(self.prefix + kind, defaultdict(float))
        rec["ops"] += 1
        rec["wall_ms"] += ms
        for cat in ("work", "jit", "gc"):
            rec[f"cpu_{cat}_ms"] += self.cpu_samples.get(f"{cat}:{kind}", [0.0])[-1]
        for key, value in after.items():
            rec[key] += value - before[key]
        rec["recompiled"] += again
        return result, ms


def _fgac_mix(spark, root: str):
    """A function that runs one unit of the fgac_consumer_ingest mix per
    call, on a fresh fixture under ``root``."""
    from perfbench import fgac, gen
    from perfbench.expect import HealthcareModel
    from sample_emr_on_eks_fgac_iceberg_spark import healthcare as hc

    patients = gen.patients(FGAC_SEED, fgac.N_PATIENTS)
    claims = gen.claims(FGAC_SEED, fgac.N_CLAIMS, fgac.N_PATIENTS)
    engine = fgac.build_fixture(spark, root, patients, claims)
    model = HealthcareModel(patients, claims)
    rng = random.Random(f"fgac:{FGAC_SEED}")
    join_sql = fgac._join_sql()
    writer, reader, team2 = (engine.session_for(p) for p in ("writer", hc.TEAM1, hc.TEAM2))
    counters = {"table_root": os.path.join(engine.warehouse.root, "claims"), "batches": 0}

    def unit(h, j: int) -> None:
        fgac.consumer_job(h, engine, model, team2, rng, j, join_sql)
        for kind in fgac.COMMIT_KINDS:
            fgac.ingest_step(h, writer, reader, model, rng, kind, counters)

    return unit


def census(spark, sf_dir: str | None = None, queries=(), fgac: bool = False, runs: int = 2) -> dict:
    """Run ``queries`` (after bench.py's warm-up) and then, with
    ``fgac``, the FGAC mix, ``runs`` times on ``spark``; returns the
    census document without its box and cache fields."""
    import bench

    h = Census(spark)
    workdir = tempfile.mkdtemp(prefix="codegen-census-")
    try:
        if queries:
            bench.warm_up(spark, sf_dir)
        unit = _fgac_mix(spark, os.path.join(workdir, "wh")) if fgac else None
        passes = []
        for r in range(runs):
            h.passes.append({})
            start = codegen_counters(h.jvm)
            for name in queries:
                bench.pre_query(spark)
                h.op(name, lambda name=name: bench.run_query(spark, sf_dir, name))
            if unit is not None:
                h.prefix = "fgac."
                unit(h, r)
                h.prefix = ""
            end = codegen_counters(h.jvm)
            passes.append(
                {
                    **{k: round(end[k] - start[k], 1) for k in end},
                    "recompiled": sum(rec["recompiled"] for rec in h.passes[-1].values()),
                    "cache_size": h.cache.size(),
                    **memory_pools(h.jvm),
                }
            )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    items: dict[str, list[dict]] = {}
    for p in h.passes:
        for name, rec in p.items():
            items.setdefault(name, []).append({k: round(v, 1) for k, v in rec.items()})
    return {"passes": passes, "items": items, "failures": h.failures}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", help="tables directory of the registry queries")
    ap.add_argument("--queries", default="", help="comma-separated registry query names")
    ap.add_argument("--headline", action="store_true", help="bench.py's HEADLINE queries")
    ap.add_argument("--fgac", action="store_true", help="the fgac_consumer_ingest statement mix")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--cache-entries", type=int, help="spark.sql.codegen.cache.maxEntries")
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    import bench
    from perfbench.harness import stop_spark
    from sample_emr_on_eks_fgac_iceberg_spark import build_session
    from sample_emr_on_eks_fgac_iceberg_spark.session import CODEGEN_CACHE_ENTRIES

    names = [q.strip() for q in args.queries.split(",") if q.strip()]
    if args.headline:
        names += [q for q in bench.HEADLINE if q in bench.QUERIES and q not in names]
    if names and not args.sf:
        ap.error("--sf names the tables directory the queries read")
    entries = args.cache_entries or CODEGEN_CACHE_ENTRIES
    bench.jvm_headroom()
    spark = build_session(
        app_name="codegen-census",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.codegen.cache.maxEntries": str(entries),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        doc = {
            "box": {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg()[0]},
            "sf_dir": args.sf if names else None,
            "cache_entries": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
            **census(spark, args.sf, names, args.fgac, args.runs),
        }
    finally:
        stop_spark(spark)
    doc["box"]["loadavg_end"] = os.getloadavg()[0]
    text = json.dumps(doc)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
    print(text)
    return 1 if doc["failures"] else 0


if __name__ == "__main__":
    sys.exit(main())
