"""The codegen cache holds the engine's working set (session.
CODEGEN_CACHE_ENTRIES): a second pass of a workload finds every class
the first pass compiled, where Spark's default 100 entries made each
pass of the analytics_suite five (199 classes) recompile all of them.

What still compiles on a repeat is code whose text changed: Spark
inlines an integer literal into the generated Java, so a statement run
with a new integer value compiles its classes again. The point lookup
pins that (2 classes per distinct patient id). Of the analytics five,
`lineitem_weighted_median_price` filters on the crossing partition's id
and remainder, which the driver computes from a sampled range
partitioning, so its 2 filter classes compile again whenever that sample
moves, and `kruskal_wallis_priority`'s stages are not always numbered
alike, and a stage's number is part of its class name. Such classes are
new source, never a recompile."""

import importlib.util
import json
import os
import random
import subprocess
import sys

import pytest

from bench import codegen_compiles
from perfbench import analytics, fgac, gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location("codegen_census", os.path.join(ROOT, "tools", "profile.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_analytics_second_pass_recompiles_nothing(spark, sf_dir):
    doc = _tool().census(spark, sf_dir, analytics.QUERIES, runs=2)
    assert doc["failures"] == []
    first, second = doc["passes"]
    assert first["compiles"] > 100  # more than Spark's default cache holds
    assert second["recompiled"] == 0, doc["items"]
    # what compiles again is source with new literals: a few classes
    assert second["compiles"] < first["compiles"] / 10, doc["items"]


@pytest.fixture(scope="module")
def mix(spark, tmp_path_factory):
    """perfbench's fgac_consumer_ingest fixture, scaled down, with its
    writer and team1 sessions."""
    from sample_emr_on_eks_fgac_iceberg_spark import healthcare as hc

    patients = gen.patients(11, 200)
    claims = gen.claims(11, 1600, 200)
    engine = fgac.build_fixture(spark, str(tmp_path_factory.mktemp("codegen") / "wh"), patients, claims)
    by_status = {s: [c[0] for c in claims if c[6] == s] for s in gen.STATUSES}
    return engine, engine.session_for(hc.TEAM1), engine.session_for("writer"), by_status


def _unit(engine, team1, writer, by_status, j: int) -> dict:
    """One unit of the mix with values of its own: one new claim per
    status partition for the INSERT, and one claim per status partition
    for the MERGE and for the DELETE, so that every unit touches the same
    partitions. Returns the classes each statement compiled."""
    rng = random.Random(j)
    rows = []
    for status in gen.STATUSES:
        row = gen.claim_row(rng, f"CGC{j:03d}{status}", 200, gen._T0)
        rows.append((*row[:6], status, *row[7:]))
    merged = [ids[2 * j] for ids in by_status.values()]
    deleted = [ids[2 * j + 1] for ids in by_status.values()]
    source = " UNION ALL ".join(
        f"SELECT '{cid}' AS claim_id, CAST({100 + j}.25 AS DECIMAL(10,2)) AS amount" for cid in merged
    )
    ops = {
        "scan": lambda: team1.sql(fgac.SCAN_SQL).collect(),
        "join": lambda: team1.sql(fgac._join_sql()).collect(),
        "state_agg": lambda: team1.sql(fgac.STATE_AGG_SQL).collect(),
        "table": lambda: team1.table("patients").orderBy("patient_id").limit(20).collect(),
        "insert": lambda: writer.sql(f"INSERT INTO claims VALUES {fgac._values(rows)}"),
        "merge": lambda: writer.sql(
            f"MERGE INTO claims t USING ({source}) s ON t.claim_id = s.claim_id "
            "WHEN MATCHED THEN UPDATE SET amount = s.amount"
        ),
        "delete": lambda: writer.sql(
            f"DELETE FROM claims WHERE claim_id IN ({', '.join(repr(c) for c in deleted)})"
        ),
    }
    spark = engine.spark
    out = {}
    for kind, op in ops.items():
        before = codegen_compiles(spark)
        result = op()
        if result is not None and not isinstance(result, list):  # a write's result frame
            result.collect()
        out[kind] = codegen_compiles(spark) - before
    return out


def test_fgac_mix_second_unit_compiles_nothing(mix):
    first = _unit(*mix, 0)
    assert sum(first.values()) > 0
    assert _unit(*mix, 1) == dict.fromkeys(first, 0)


def test_point_lookup_compiles_per_distinct_literal(mix):
    """Spark inlines the integer patient id into the generated filter,
    so each new id compiles the lookup's 2 classes again; a repeated id
    finds them cached."""
    engine, team1 = mix[0], mix[1]
    pids = [gen.FIRST_PATIENT_ID + k for k in (3, 4)]
    team1.sql(fgac.POINT_SQL.format(pid=pids[0])).collect()  # the shape's first compile
    counts = []
    for pid in (pids[1], pids[1]):
        before = codegen_compiles(engine.spark)
        team1.sql(fgac.POINT_SQL.format(pid=pid)).collect()
        counts.append(codegen_compiles(engine.spark) - before)
    assert counts == [2, 0]


PASS_FIELDS = {
    "compiles", "compile_ms", "bytecode_bytes", "recompiled", "cache_size",
    "heap_mb", "metaspace_mb", "class_space_mb", "code_cache_mb", "loaded_classes",
}
ITEM_FIELDS = {
    "ops", "wall_ms", "cpu_work_ms", "cpu_jit_ms", "cpu_gc_ms",
    "compiles", "compile_ms", "bytecode_bytes", "recompiled",
}


def test_profile_tool_reports_its_fields(spark, sf_dir):
    """tools/profile.py on one query: the document's fields, per pass and
    per query, as its docstring lists them; and the script starts (its
    directory must not shadow the standard library's profile module)."""
    doc = json.loads(json.dumps(_tool().census(spark, sf_dir, ["q3_shipping_priority"], runs=2)))
    assert set(doc) == {"passes", "items", "failures"} and doc["failures"] == []
    assert [set(p) for p in doc["passes"]] == [PASS_FIELDS, PASS_FIELDS]
    assert all(p["metaspace_mb"] > 0 and p["loaded_classes"] > 0 and p["cache_size"] > 0 for p in doc["passes"])
    runs = doc["items"]["q3_shipping_priority"]
    assert [set(r) for r in runs] == [ITEM_FIELDS, ITEM_FIELDS]
    assert all(r["ops"] == 1 and r["wall_ms"] > 0 for r in runs)
    assert runs[0]["compiles"] > 0 and runs[0]["bytecode_bytes"] > 0 and runs[0]["compile_ms"] > 0
    usage = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile.py"), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert usage.returncode == 0 and "--cache-entries" in usage.stdout
