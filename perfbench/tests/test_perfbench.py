"""Unit tests for the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import types
from decimal import Decimal

import pytest

from perfbench import expect, gen, sparkstats, stats
from perfbench.trace import Span, Tracer, descendants, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, q",
    [(9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n) == q


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(list(range(101)), 90) == 90.0


def test_summarize_names_the_tail_it_can_support():
    assert stats.summarize(range(10)) == {"n": 10, "p50": 4.5}
    s = stats.summarize(range(100))
    assert s["n"] == 100 and "p90" in s and "p95" not in s


def test_geomean_ignores_nonpositive():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([2.0, 0.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([]) == 0.0


# -- spans and self time -----------------------------------------------------


def _span(id, start, end, parent=None, name="x"):
    s = Span(id, name, start, parent, None)
    s.end = end
    return s


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps span 1
        _span(3, 8.0, 12.0, parent=0),  # runs past its parent
        _span(4, 2.5, 2.75, parent=2),  # grandchild: not the root's concern
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[2] == pytest.approx(3.0 - 0.25)
    assert st[4] == pytest.approx(0.25)
    assert {s.id for s in descendants(spans, 0)} == {1, 2, 3, 4}


def test_tracer_patches_and_restores_and_records_errors():
    class Layer:
        def work(self, x):
            if x < 0:
                raise ValueError("neg")
            return x * 2

    original = Layer.__dict__["work"]
    tr = Tracer()
    tr.patch(Layer, "work", "layer.work")
    tr.install()
    try:
        with tr.span("op"):
            assert Layer().work(2) == 4
        with pytest.raises(ValueError):
            Layer().work(-1)
    finally:
        tr.uninstall()
    assert Layer.__dict__["work"] is original
    op, inner, failed = tr.spans
    assert inner.name == "layer.work" and inner.parent == op.id
    assert failed.error == "ValueError" and failed.parent is None
    Layer().work(3)  # uninstalled: nothing recorded
    assert len(tr.spans) == 3


# -- Spark event log ---------------------------------------------------------


def _events():
    group = sparkstats.group_of(5)
    task = {
        "Executor Run Time": 120,
        "Executor CPU Time": 90_000_000,
        "JVM GC Time": 7,
        "Disk Bytes Spilled": 11,
        "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
    }
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        # a job outside any benchmark group is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1700,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1800},
    ]
    return [json.dumps(e) for e in evs]


def test_event_log_parser_attributes_tasks_to_ops():
    out = sparkstats.parse_event_log(_events())
    assert set(out) == {5}
    agg = out[5]
    assert agg["jobs"] == [(1000, 1400), (1700, 1800)]
    assert agg["tasks"] == 2
    assert agg["executor_run_ms"] == 240
    assert agg["executor_cpu_ns"] == 180_000_000
    assert agg["gc_ms"] == 14
    assert agg["shuffle_read_bytes"] == 14
    assert agg["shuffle_write_bytes"] == 100
    assert agg["spill_bytes"] == 22


def test_driver_gap_is_wall_minus_job_union():
    jobs = [(1000, 1400), (1300, 1500), (1900, 2500)]
    # op from 0.9 s to 2.0 s: jobs cover 1.0-1.5 and 1.9-2.0
    assert sparkstats.driver_gap_s(0.9, 2.0, jobs) == pytest.approx(1.1 - 0.6)
    assert sparkstats.driver_gap_s(0.0, 0.5, jobs) == pytest.approx(0.5)


def test_job_group_round_trip():
    assert sparkstats.op_of(sparkstats.group_of(42)) == 42
    assert sparkstats.op_of("someone-else") is None
    assert sparkstats.op_of(None) is None


# -- output checks -----------------------------------------------------------


def test_digest_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", Decimal("1.50")), (2, "b", None)]
    assert expect.digest(rows) == expect.digest(list(reversed(rows)))
    assert expect.digest(rows) != expect.digest([(1, "a", Decimal("1.51")), (2, "b", None)])
    assert expect.digest([])[0] == 0


def test_norm_agrees_across_engines():
    assert expect.norm(Decimal("150.00")) == expect.norm(150.0)
    assert expect.norm(dt.date(2025, 1, 2)) == "2025-01-02"
    assert expect.norm(True) == "true"
    assert expect.norm(float("nan")) == expect.norm(None)


def test_frame_digest_sorts_columns_by_name():
    pd = pytest.importorskip("pandas")
    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
    assert expect.frame_digest(a) == expect.frame_digest(b)


def _model():
    pats = gen.patients(3, 300)
    return expect.HealthcareModel(pats, gen.claims(3, 900, 300)), pats


def test_model_applies_the_row_filter_and_column_drop():
    model, pats = _model()
    top = model.scan_top20()
    assert len(top) == 20
    assert all(len(r) == 8 for r in top)  # ssn dropped
    assert all(r[5] in expect.VISIBLE_STATES for r in top)
    visible = sorted(p[0] for p in pats if p[5] in expect.VISIBLE_STATES)
    assert [r[0] for r in top] == visible[:20]
    hidden = next(p[0] for p in pats if p[5] not in expect.VISIBLE_STATES)
    assert model.point(hidden) == []


def test_model_join_is_ordered_and_filtered():
    model, _ = _model()
    rows = model.join_top20()
    assert len(rows) == 20
    keys = [(r[0], r[2], r[1]) for r in rows]
    assert keys == sorted(keys)
    assert {r[0] for r in rows} <= set(expect.VISIBLE_STATES)


def test_model_tracks_commits():
    model, _ = _model()
    before = {s: (n, t) for s, n, t in model.state_totals()}
    rng = random.Random(0)
    ids = model.sample_claim_ids(rng, 5)
    gone = [c for c in ids if model._visible(model.claims[c][1])]
    model.delete(ids)
    after = {s: (n, t) for s, n, t in model.state_totals()}
    assert sum(n for n, _ in before.values()) - sum(n for n, _ in after.values()) == len(gone)
    assert not set(ids) & set(model.claims)
    assert len(model.sample_claim_ids(rng, 3)) >= 1
    cid = next(iter(model.claims))
    model.set_amounts({cid: Decimal("1.23")})
    assert model.claims[cid][5] == Decimal("1.23")


def test_generators_are_seeded():
    assert gen.patients(1, 50) == gen.patients(1, 50)
    assert gen.patients(1, 50) != gen.patients(2, 50)
    a = gen.analytics_tables(1, 0.001)
    b = gen.analytics_tables(1, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000


# -- BENCHMARK.json ----------------------------------------------------------


def test_benchmark_json_names_every_emitted_metric():
    from perfbench.layers import metric_units
    from perfbench.run import END_TO_END, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metric_units()
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_harness_counts_wrong_results_and_errors():
    from perfbench.harness import Harness

    fake_sc = types.SimpleNamespace()
    h = Harness(types.SimpleNamespace(sparkContext=fake_sc), trace=False)
    h.cpu_snapshot = lambda: {}
    h.op("a", lambda: 1, lambda r, e: r == 1)
    h.op("a", lambda: 2, lambda r, e: r == 1)
    h.op("b", lambda: 1 / 0)
    h.op("c", lambda: 1 / 0, lambda r, e: isinstance(e, ZeroDivisionError))
    assert (h.attempted, h.failed) == (4, 2)
    assert len(h.kind_ms("a")) == 2
