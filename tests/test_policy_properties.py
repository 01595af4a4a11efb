"""Property-based FGAC tests (hypothesis): for *arbitrary* data-cells
filters — any column whitelist, any IN-list row filter — the policy
layer's secured scan must equal the manual filter+project a reviewer
would write by hand, and the masked columns must be unreachable. The
reference exercises exactly one filter (SURVEY.md §2.A F1/F2); these
properties show the enforcement path is correct for the whole policy
family, not just that instance.
"""

import itertools
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
from sample_emr_on_eks_fgac_iceberg_spark.healthcare import setup_healthcare
from sample_emr_on_eks_fgac_iceberg_spark.policy import DataCellsFilter

STATES = ["California", "Texas", "New York", "Illinois"]
# patient_id stays visible so rows can be compared by key
MASKABLE = ["ssn", "gender", "city", "date_of_birth", "patient_name"]
ALL_COLS = [
    "patient_id",
    "patient_name",
    "date_of_birth",
    "gender",
    "city",
    "state",
    "ssn",
    "created_at",
    "updated_at",
]

_seq = itertools.count()


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("prop_warehouse")))
    setup_healthcare(eng)
    return eng


@given(
    states=st.lists(
        st.sampled_from(STATES), min_size=1, max_size=3, unique=True
    ),
    hidden=st.lists(
        st.sampled_from(MASKABLE), min_size=0, max_size=3, unique=True
    ),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_secured_scan_equals_manual_filter_project(engine, states, hidden):
    n = next(_seq)
    principal = f"prop_user_{n}"
    allowed = tuple(c for c in ALL_COLS if c not in hidden)
    in_list = ", ".join(f"'{s}'" for s in states)
    engine.policy.create_data_cells_filter(
        DataCellsFilter(
            name=f"prop_filter_{n}",
            table="patients",
            allowed_columns=allowed,
            row_filter=f"state in ({in_list})",
        )
    )
    engine.policy.grant(
        principal, "patients", filter_name=f"prop_filter_{n}"
    )

    got = engine.session_for(principal).table("patients")
    assert got.columns == list(allowed)
    expected = (
        engine.warehouse.read_table("patients")
        .filter(F.col("state").isin(*states))
        .select(*allowed)
    )
    key = lambda r: r["patient_id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(
        expected.collect(), key=key
    )


@given(
    hidden=st.lists(
        st.sampled_from(MASKABLE), min_size=1, max_size=3, unique=True
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_masked_columns_unreachable_via_sql(engine, hidden):
    n = next(_seq)
    principal = f"prop_sql_user_{n}"
    allowed = tuple(c for c in ALL_COLS if c not in hidden)
    engine.policy.create_data_cells_filter(
        DataCellsFilter(
            name=f"prop_sql_filter_{n}",
            table="patients",
            allowed_columns=allowed,
            row_filter=None,
        )
    )
    engine.policy.grant(
        principal, "patients", filter_name=f"prop_sql_filter_{n}"
    )
    sess = engine.session_for(principal)
    # SELECT * never leaks a hidden column …
    star = sess.sql("SELECT * FROM patients")
    assert set(star.columns) == set(allowed)
    # … and naming one outright fails analysis (never returns data)
    for col in hidden:
        with pytest.raises(Exception, match="UNRESOLVED_COLUMN|cannot be resolved"):
            sess.sql(f"SELECT {col} FROM patients").collect()


@given(
    states=st.lists(
        st.sampled_from(STATES), min_size=1, max_size=3, unique=True
    ),
    masked=st.lists(
        st.sampled_from(["patient_name", "city", "gender"]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_masked_scan_equals_manual_mask(engine, states, masked):
    """For arbitrary (row filter, mask set) combinations, the secured
    scan equals filter → mask-projection done by hand, and no masked
    column ever vends a cleartext value."""
    n = next(_seq)
    principal = f"prop_mask_user_{n}"
    in_list = ", ".join(f"'{s}'" for s in states)
    masks = {c: f"concat('masked:', substr(md5({c}), 1, 6))" for c in masked}
    engine.policy.create_data_cells_filter(
        DataCellsFilter(
            name=f"prop_mask_filter_{n}",
            table="patients",
            row_filter=f"state in ({in_list})",
            column_masks=masks,
        )
    )
    engine.policy.grant(principal, "patients", filter_name=f"prop_mask_filter_{n}")

    got = engine.session_for(principal).table("patients")
    assert got.columns == ALL_COLS  # masked, never hidden
    base = engine.warehouse.read_table("patients").filter(
        F.col("state").isin(*states)
    )
    expected = base.select(
        *[
            F.expr(masks[c]).alias(c) if c in masks else F.col(c)
            for c in ALL_COLS
        ]
    )
    key = lambda r: r["patient_id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(expected.collect(), key=key)
    for c in masked:
        assert all(r[c].startswith("masked:") for r in got.collect())


# ------------------------------------------------ write-source authorizer
# The plan-based write authorizer (policy.py::_authorize_write_sources,
# the py4j walk in ParsedStatement.sources) is the security keystone
# of the delegated-DML path. Property: for ARBITRARY generated
# statements mixing CTEs, IN/scalar subqueries in WHERE/SET/ON, nested
# CTE chains and quoted identifiers — in any spelling of comments,
# whitespace and keyword case — a statement referencing any ungranted
# base relation raises AccessDeniedException and writes nothing, while
# a statement whose relations are all granted executes.

GRANTED_SRCS = ["w_src_a", "w_src_b"]
UNGRANTED = "w_secret"
_ALL_SRCS = GRANTED_SRCS + [UNGRANTED]


@pytest.fixture(scope="module")
def write_engine(spark, tmp_path_factory):
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        DELETE,
        DESCRIBE,
        INSERT,
        SELECT,
    )

    eng = FgacEngine(spark, str(tmp_path_factory.mktemp("wprop_warehouse")))
    for t in ["w_mine", *_ALL_SRCS]:
        eng.sql(f"CREATE TABLE {t} (k INT, v INT)")
        eng.sql(f"INSERT INTO {t} VALUES (1, 10), (2, 20)")
    eng.policy.grant("wprop", "w_mine", {SELECT, DESCRIBE, INSERT, DELETE})
    for t in GRANTED_SRCS:
        eng.policy.grant("wprop", t, {SELECT, DESCRIBE})
    return eng


def _rel(name: str, quoted: bool) -> str:
    return f"`{name}`" if quoted else name


# Spellings that must never change a decision: the gaps between tokens
# become runs of whitespace or comments, and keywords change case.
_GAPS = [" ", "  ", "\n", "\t ", " /* c */ ", "/**/", " -- c\n"]
_CASES = [str.upper, str.lower, str.title]


def respell(stmt: str, draw) -> str:
    """``stmt`` (single-spaced, no string literals) with every gap —
    the leading one included — and every keyword's case drawn by the
    hypothesis ``draw``."""
    out = [draw(st.sampled_from(["", *_GAPS]))]
    for i, tok in enumerate(stmt.split(" ")):
        if i:
            out.append(draw(st.sampled_from(_GAPS)))
        if tok.isalpha() and tok.isupper():
            tok = draw(st.sampled_from(_CASES))(tok)
        out.append(tok)
    return "".join(out)


@st.composite
def write_statements(draw):
    """(statement, references_ungranted) pairs over the fixed tables."""
    r = lambda: draw(st.sampled_from(_ALL_SRCS))  # noqa: E731
    q = lambda: draw(st.booleans())  # noqa: E731
    shape = draw(st.integers(min_value=0, max_value=6))
    r1, r2 = r(), r()
    used = {r1, r2}
    if shape == 0:
        stmt = (
            f"INSERT INTO w_mine SELECT k, v FROM {_rel(r1, q())} "
            f"WHERE k IN (SELECT k FROM {_rel(r2, q())})"
        )
    elif shape == 1:
        stmt = (
            f"WITH c AS (SELECT k, v FROM {_rel(r1, q())}) "
            f"INSERT INTO w_mine SELECT * FROM c "
            f"WHERE v >= (SELECT min(v) FROM {_rel(r2, q())})"
        )
    elif shape == 2:
        stmt = (
            f"UPDATE w_mine SET v = (SELECT max(v) FROM {_rel(r1, q())}) "
            f"WHERE k IN (SELECT k FROM {_rel(r2, q())})"
        )
    elif shape == 3:
        stmt = (
            f"MERGE INTO w_mine t USING (SELECT k, v FROM {_rel(r1, q())}) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
        )
        used = {r1}
    elif shape == 4:
        stmt = f"DELETE FROM w_mine WHERE k IN (SELECT k FROM {_rel(r1, q())})"
        used = {r1}
    elif shape == 5:
        # nested CTE chain; second CTE joins a base relation
        stmt = (
            f"WITH a AS (SELECT * FROM {_rel(r1, q())}), "
            f"b AS (SELECT a.k, a.v FROM a JOIN {_rel(r2, q())} x ON a.k = x.k) "
            "INSERT INTO w_mine SELECT k, v FROM b"
        )
    else:
        # CTE body hides the read inside a scalar subquery
        stmt = (
            f"WITH c AS (SELECT 1 AS k, "
            f"(SELECT max(v) FROM {_rel(r1, q())}) AS v) "
            "INSERT INTO w_mine SELECT k, v FROM c"
        )
        used = {r1}
    return respell(stmt, draw), UNGRANTED in used


@given(case=write_statements())
@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_write_sources_authorized_iff_all_granted(write_engine, case):
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        AccessDeniedException as ADE,
    )

    stmt, touches_secret = case
    sess = write_engine.session_for("wprop")
    secret_before = [
        tuple(r) for r in write_engine.warehouse.read_table(UNGRANTED).collect()
    ]
    if touches_secret:
        before = write_engine.warehouse.read_table("w_mine").count()
        with pytest.raises(ADE):
            sess.sql(stmt)
        # plan-time denial: the write never ran
        assert write_engine.warehouse.read_table("w_mine").count() == before
    else:
        sess.sql(stmt)  # must execute — all sources granted
    # the ungranted table itself is never modified either way
    assert [
        tuple(r) for r in write_engine.warehouse.read_table(UNGRANTED).collect()
    ] == secret_before


SPELLING_MATRIX_STATEMENTS = [
    "INSERT INTO w_mine SELECT k, v FROM w_src_a WHERE k IN (SELECT k FROM w_src_b)",
    "ALTER TABLE w_src_a ADD COLUMNS (x INT)",
    "DROP TABLE w_src_a",
    "CREATE TABLE w_copy AS SELECT * FROM w_src_a",
]


@pytest.mark.parametrize("stmt", SPELLING_MATRIX_STATEMENTS)
def test_spelling_matrix_keeps_the_decision(write_engine, stmt):
    """Default-tier slice of the respelled authorizer property: a
    leading block or line comment, tabs and newlines, and lower-case
    keywords each reach the same decision as the canonical text."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        AccessDeniedException as ADE,
    )

    sess = write_engine.session_for("wprop")

    def outcome(text: str) -> tuple:
        """The decision, and what it did to the warehouse."""
        before = _warehouse_state(write_engine)
        try:
            sess.sql(text)
        except ADE:
            decision = "denied"
        else:
            decision = "executed"
        return decision, _effect(before, _warehouse_state(write_engine))

    mutated = [
        "/* c */ " + stmt,
        "-- c\n" + stmt,
        stmt.replace(" ", "\n\t", 3),
        " ".join(t.lower() if t.isalpha() and t.isupper() else t for t in stmt.split(" ")),
    ]
    want = outcome(stmt)
    assert [outcome(m) for m in mutated] == [want] * len(mutated)


def _warehouse_state(eng) -> dict:
    wh = eng.warehouse
    return {
        t: (
            [(f.name, f.dataType.simpleString()) for f in wh.schema_of(t).fields],
            Counter(tuple(r) for r in wh.read_table(t).collect()),
        )
        for t in wh.list_tables()
    }


def _effect(before: dict, after: dict) -> tuple:
    """Tables created and dropped, and per changed table whether its
    schema moved and which rows it gained and lost."""
    return (
        sorted(set(after) - set(before)),
        sorted(set(before) - set(after)),
        {
            t: (
                after[t][0] != before[t][0],
                sorted((after[t][1] - before[t][1]).elements()),
                sorted((before[t][1] - after[t][1]).elements()),
            )
            for t in set(before) & set(after)
            if after[t] != before[t]
        },
    )


# ------------------------------------------- effect-level spelling matrix
# Spellings Spark parses that a text-matching dispatch let past their
# statement shape: each must take effect in the warehouse — not in
# Spark's own catalog, not on a scratch session — exactly as its
# canonical spelling does.
_BASE = [(1, "a"), (2, "b")]


def _rows(eng, table: str) -> list:
    return sorted(tuple(r) for r in eng.warehouse.read_table(table).collect())


_EFFECT_MATRIX = {
    "DROP TABLE `t`": lambda e, _: not e.warehouse.table_exists("t"),
    "CREATE TABLE t5 AS (SELECT * FROM t)": lambda e, _: _rows(e, "t5") == _BASE,
    "CREATE TABLE t2 TBLPROPERTIES ('a'='b') AS SELECT * FROM t": lambda e, _: (
        _rows(e, "t2") == _BASE and e.warehouse._read_meta("t2").properties.get("a") == "b"
    ),
    "CREATE DATABASE `d1`": lambda e, _: "d1" in e.warehouse.list_databases(),
    "SHOW TABLES LIKE 'zz*'": lambda e, df: df.columns == ["table_name"] and df.count() == 0,
    "SHOW TABLES LIKE 't*'": lambda e, df: [tuple(r) for r in df.collect()] == [("t",)],
    "INSERT INTO TABLE t VALUES (3, 'c')": lambda e, _: _rows(e, "t") == _BASE + [(3, "c")],
    "INSERT INTO `t` VALUES (3, 'c')": lambda e, _: _rows(e, "t") == _BASE + [(3, "c")],
    "INSERT INTO t (SELECT 3, 'c')": lambda e, _: _rows(e, "t") == _BASE + [(3, "c")],
    "INSERT INTO t SELECT 3, 'c'": lambda e, _: _rows(e, "t") == _BASE + [(3, "c")],
    "INSERT OVERWRITE t SELECT 3, 'c'": lambda e, _: _rows(e, "t") == [(3, "c")],
    "DELETE FROM t AS x WHERE x.k = 1": lambda e, _: _rows(e, "t") == [(2, "b")],
    "UPDATE t AS x SET v = 'z' WHERE x.k = 1": lambda e, _: _rows(e, "t") == [(1, "z"), (2, "b")],
    "UPDATE `t` SET v = 'z' WHERE k = 1": lambda e, _: _rows(e, "t") == [(1, "z"), (2, "b")],
    "MERGE INTO `t` USING (SELECT 1 AS k, 'z' AS v) s ON t.k = s.k "
    "WHEN MATCHED THEN UPDATE SET v = s.v": lambda e, _: _rows(e, "t") == [(1, "z"), (2, "b")],
    "TRUNCATE TABLE `t`": lambda e, _: _rows(e, "t") == [],
    "ALTER TABLE t ADD COLUMN w INT": lambda e, _: (
        [f.name for f in e.warehouse.schema_of("t").fields] == ["k", "v", "w"]
    ),
}


@pytest.fixture()
def effect_engine(spark, tmp_path):
    eng = FgacEngine(spark, str(tmp_path / "effect_wh"))
    eng.sql("CREATE TABLE t (k INT, v STRING)")
    eng.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    return eng


@pytest.mark.parametrize("stmt", list(_EFFECT_MATRIX))
def test_respelled_statement_takes_effect_in_the_warehouse(effect_engine, spark, stmt):
    def spark_catalog():
        return (
            {t.name for t in spark.catalog.listTables()},
            {d.name for d in spark.catalog.listDatabases()},
        )

    before = spark_catalog()
    result = effect_engine.sql(stmt)
    assert _EFFECT_MATRIX[stmt](effect_engine, result)
    assert spark_catalog() == before


def test_respelled_drop_through_a_granted_session(effect_engine):
    from sample_emr_on_eks_fgac_iceberg_spark.policy import DESCRIBE, DROP, SELECT

    effect_engine.policy.grant("dropper", "t", {SELECT, DESCRIBE, DROP})
    effect_engine.session_for("dropper").sql("DROP TABLE `t`")
    assert not effect_engine.warehouse.table_exists("t")
