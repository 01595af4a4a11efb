"""Property-based DML (hypothesis): for *arbitrary* sequences of
insert / delete / update / merge over arbitrary modulus predicates, the
warehouse's row-level writes must agree with a trivial in-memory model
— final state, row-level values, AND every historical snapshot (time
travel replays the whole history) — under both write modes:
copy-on-write, and merge-on-read with positional deletes (no identifier
fields). The example-based tests pin the named behaviors; these
properties show the commit machinery composes."""

import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

_seq = itertools.count()

# an op is one of:
#   ("insert", [(k, v), ...])
#   ("delete", mod, rem)          → DELETE WHERE v % mod = rem
#   ("update", mod, rem, delta)   → UPDATE SET v = v + delta WHERE v % mod = rem
#   ("merge", [(k, v), ...])      → upsert by k
#   ("overwrite", [(k, v), ...])  → static INSERT OVERWRITE (replace all)
#   ("truncate",)                 → TRUNCATE TABLE
_kv = st.tuples(st.integers(0, 30), st.integers(0, 100))
_op = st.one_of(
    st.tuples(st.just("insert"), st.lists(_kv, min_size=1, max_size=4)),
    st.tuples(st.just("delete"), st.integers(2, 5), st.integers(0, 4)),
    st.tuples(
        st.just("update"), st.integers(2, 5), st.integers(0, 4), st.integers(1, 9)
    ),
    st.tuples(st.just("merge"), st.lists(_kv, min_size=1, max_size=3)),
    st.tuples(st.just("overwrite"), st.lists(_kv, min_size=1, max_size=3)),
    st.tuples(st.just("truncate")),
)


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    return Warehouse(spark, str(tmp_path_factory.mktemp("dml_props")))


def _apply_model(model: dict, op) -> None:
    if op[0] == "insert":
        for i, (k, v) in enumerate(op[1]):
            # duplicate keys allowed on insert: store under a fresh slot
            model[max(model, default=-1) + 1] = (k, v)
    elif op[0] == "delete":
        _, mod, rem = op
        for slot in [s for s, (_, v) in model.items() if v % mod == rem % mod]:
            del model[slot]
    elif op[0] == "update":
        _, mod, rem, delta = op
        for slot, (k, v) in list(model.items()):
            if v % mod == rem % mod:
                model[slot] = (k, v + delta)
    elif op[0] == "merge":
        for k, v in op[1]:
            hits = [s for s, (mk, _) in model.items() if mk == k]
            if hits:
                for s in hits:
                    model[s] = (k, v)
            else:
                model[max(model, default=-1) + 1] = (k, v)
    elif op[0] == "overwrite":
        model.clear()
        for i, (k, v) in enumerate(op[1]):
            model[i] = (k, v)
    elif op[0] == "truncate":
        model.clear()


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def _model_rows(model):
    return sorted(model.values())


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=5))
@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
@pytest.mark.slow
def test_dml_sequences_match_model(wh, mode, ops):
    name = f"t{next(_seq)}"
    wh.create_table(name, "k int, v int")
    wh.set_properties(
        name, {f"write.{s}.mode": mode for s in ("delete", "update", "merge")}
    )
    model: dict = {}
    history = []  # (snapshot_id_after_op, expected rows)
    for op in ops:
        if op[0] == "insert":
            wh.insert_values(name, op[1])
        elif op[0] == "delete":
            wh.delete_from(name, f"v % {op[1]} = {op[2] % op[1]}")
        elif op[0] == "update":
            wh.update_where(
                name, {"v": f"v + {op[3]}"}, f"v % {op[1]} = {op[2] % op[1]}"
            )
        elif op[0] == "merge":
            # dedupe pairs by key first (merge cardinality rule), same
            # list feeds Spark and the model
            pairs = list({k: (k, v) for k, v in op[1]}.values())
            op = ("merge", pairs)
            src = wh.spark.createDataFrame(pairs, "k int, v int")
            wh.merge_into(
                name, src, "t.k = s.k", matched_update={"v": "s.v"},
                not_matched_insert=True,
            )
        elif op[0] == "overwrite":
            src = wh.spark.createDataFrame(op[1], "k int, v int")
            wh.insert_overwrite(name, src, dynamic=False)
        elif op[0] == "truncate":
            wh.truncate_table(name)
        _apply_model(model, op)
        history.append((wh.current_snapshot_id(name), _model_rows(model)))

    assert _rows(wh.read_table(name)) == _model_rows(model)
    # every historical snapshot replays exactly (skip no-op entries
    # where nothing committed: snapshot id may repeat)
    for snap_id, expected in history:
        if snap_id is not None:
            assert _rows(wh.read_table(name, snapshot_id=snap_id)) == expected
    wh.drop_table(name)
