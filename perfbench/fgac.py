"""The FGAC workload, ``fgac_consumer_ingest``: consumer jobs beside
commits.

It runs on a seeded, scaled copy of the reference's healthcare fixture,
built through ``Warehouse.create_table`` / ``insert_into`` with the
data-cells filter, grants and resource links of
``healthcare.setup_healthcare``, plus a ``writer`` principal that may
append to and delete from claims.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from perfbench import gen
from perfbench.expect import HealthcareModel, digest

N_PATIENTS = 2000
N_CLAIMS = 16000
# Each table lands in one append of ~50 files, more than Spark's 32-path
# parallel-listing threshold.
CLAIMS_SLICES = 16
SETUP_REPEATS = 3
INSERT_ROWS = 10
UPDATE_ROWS = 5
COMMIT_KINDS = ("insert", "merge", "delete")
# every op kind a unit times
KINDS = (
    "session_open", "scan", "join", "state_agg", "point", "table", "denied",
    *COMMIT_KINDS, "fresh_read",
)

SCAN_SQL = "SELECT * FROM patients ORDER BY patient_id LIMIT 20"
STATE_AGG_SQL = (
    "SELECT p.state, COUNT(*) AS n_claims, SUM(c.amount) AS total_amount "
    "FROM claims c JOIN patients p ON c.patient_id = p.patient_id "
    "GROUP BY p.state"
)
POINT_SQL = "SELECT * FROM patients WHERE patient_id = {pid}"
DENIED_SQL = "SELECT * FROM patients"


def _join_sql() -> str:
    from sample_emr_on_eks_fgac_iceberg_spark.healthcare import FLAGSHIP_JOIN_SQL

    # claim_id breaks (state, claim_date) ties so the top 20 is unique
    sql = FLAGSHIP_JOIN_SQL.replace(
        "ORDER BY p.state, c.claim_date", "ORDER BY p.state, c.claim_date, c.claim_id"
    )
    if sql == FLAGSHIP_JOIN_SQL:
        raise RuntimeError("FLAGSHIP_JOIN_SQL no longer ends in the expected ORDER BY")
    return sql.rstrip() + "\n    LIMIT 20"


def build_fixture(spark, root: str, patients: list, claims: list):
    from sample_emr_on_eks_fgac_iceberg_spark import FgacEngine
    from sample_emr_on_eks_fgac_iceberg_spark import healthcare as hc
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        DELETE,
        DESCRIBE,
        INSERT,
        SELECT,
        DataCellsFilter,
    )

    engine = FgacEngine(spark, root)
    wh = engine.warehouse
    props = {"table_type": "ICEBERG"}
    wh.create_table("patients", hc.PATIENTS_SCHEMA, partition_by=["city"], properties=props)
    wh.insert_into("patients", spark.createDataFrame(patients, hc.PATIENTS_SCHEMA))
    wh.create_table("claims", hc.CLAIMS_SCHEMA, partition_by=["status"], properties=props)
    batch = spark.sparkContext.parallelize(claims, CLAIMS_SLICES)
    wh.insert_into("claims", spark.createDataFrame(batch, hc.CLAIMS_SCHEMA))

    pol = engine.policy
    for table, fname in (
        ("patients", "patients_column_row_filter"),
        ("rl_patients", "rl_patients_column_row_filter"),
        (hc.QUALIFIED_RL_PATIENTS, "qualified_rl_patients_filter"),
    ):
        if table != "patients":
            wh.create_resource_link(table, "patients")
        pol.create_data_cells_filter(
            DataCellsFilter(
                name=fname,
                table=table,
                allowed_columns=hc.PATIENT_ALLOWED_COLUMNS,
                row_filter=hc.PATIENT_ROW_FILTER,
            )
        )
        pol.grant(hc.TEAM1, table, filter_name=fname)
    wh.create_resource_link("rl_claims", "claims")
    for table in ("claims", "rl_claims"):
        pol.grant(hc.TEAM1, table)
        pol.grant(hc.TEAM2, table)
    pol.grant("writer", "claims", permissions=frozenset({SELECT, DESCRIBE, INSERT, DELETE}))
    return engine


def setup(spark, run_dir: str, seed: int) -> tuple:
    """Build the fixture SETUP_REPEATS times into fresh warehouse roots;
    return (engine, model, build seconds of each)."""
    patients = gen.patients(seed, N_PATIENTS)
    claims = gen.claims(seed, N_CLAIMS, N_PATIENTS)
    times, engine = [], None
    for k in range(SETUP_REPEATS):
        root = os.path.join(run_dir, f"warehouse{k}")
        if engine is not None:
            shutil.rmtree(engine.warehouse.root, ignore_errors=True)
        t0 = time.perf_counter()
        engine = build_fixture(spark, root, patients, claims)
        times.append(time.perf_counter() - t0)
    return engine, HealthcareModel(patients, claims), times


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _expect(expected: list, columns: tuple | None = None):
    want = digest(expected)

    def check(result, err):
        if err is not None:
            return False
        names, rows = result
        if columns is not None and tuple(names) != columns:
            return False
        return digest(rows) == want

    return check


def _denied(result, err) -> bool:
    from sample_emr_on_eks_fgac_iceberg_spark import AccessDeniedException

    return isinstance(err, AccessDeniedException)


def _run_sql(sess, sql: str):
    df = sess.sql(sql)
    return df.columns, _rows(df)


def consumer_job(h, engine, model, team2, rng, j: int, join_sql: str) -> None:
    """One consumer job: open team1's secured session, run the fixed
    statement mix, and issue team2's denied read."""
    from sample_emr_on_eks_fgac_iceberg_spark import healthcare as hc

    cols = hc.PATIENT_ALLOWED_COLUMNS
    sess, _ = h.op("session_open", lambda: engine.session_for(hc.TEAM1))
    if sess is None:
        return
    pid = model.pick_patient(rng, visible=j % 2 == 0)
    h.op("scan", lambda: _run_sql(sess, SCAN_SQL), _expect(model.scan_top20(), cols))
    h.op("join", lambda: _run_sql(sess, join_sql), _expect(model.join_top20()))
    h.op("state_agg", lambda: _run_sql(sess, STATE_AGG_SQL), _expect(model.state_totals()))
    h.op(
        "point",
        lambda: _run_sql(sess, POINT_SQL.format(pid=pid)),
        _expect(model.point(pid), cols),
    )

    def table_scan():
        df = sess.table("patients").orderBy("patient_id").limit(20)
        return df.columns, _rows(df)

    h.op("table", table_scan, _expect(model.scan_top20(), cols))
    h.op("denied", lambda: _run_sql(team2, DENIED_SQL), _denied)


# -- ingest ------------------------------------------------------------------


def _lit(v) -> str:
    import datetime as dt
    from decimal import Decimal

    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP'{v:%Y-%m-%d %H:%M:%S}'"
    if isinstance(v, dt.date):
        return f"DATE'{v.isoformat()}'"
    if isinstance(v, Decimal):
        return f"CAST({v} AS DECIMAL(10,2))"
    return str(v)


def _values(rows) -> str:
    return ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)


def _file_sizes(path: str) -> dict[str, int]:
    out = {}
    for d, _subdirs, files in os.walk(path):
        for f in files:
            full = os.path.join(d, f)
            out[full] = os.path.getsize(full)
    return out


def ingest_step(h, writer, reader, model, rng, kind: str, counters: dict) -> None:
    """One commit of ``kind`` (insert, merge or delete) through the
    writer's secured session, then team1's per-state aggregate."""
    if kind == "insert":
        batch = counters["batches"] = counters["batches"] + 1
        rows = [
            gen.claim_row(rng, f"ING{batch:06d}{i:03d}", N_PATIENTS, gen._T0)
            for i in range(INSERT_ROWS)
        ]
        sql = f"INSERT INTO claims VALUES {_values(rows)}"

        def apply():
            model.insert(rows)
    elif kind == "merge":
        from decimal import Decimal

        ids = model.sample_claim_ids(rng, UPDATE_ROWS)
        amounts = {cid: Decimal(rng.randrange(1000, 100000)).scaleb(-2) for cid in ids}
        source = " UNION ALL ".join(
            f"SELECT {_lit(cid)} AS claim_id, {_lit(a)} AS amount" for cid, a in amounts.items()
        )
        sql = (
            f"MERGE INTO claims t USING ({source}) s ON t.claim_id = s.claim_id "
            "WHEN MATCHED THEN UPDATE SET amount = s.amount"
        )

        def apply():
            model.set_amounts(amounts)
    else:
        ids = model.sample_claim_ids(rng, UPDATE_ROWS)
        sql = f"DELETE FROM claims WHERE claim_id IN ({', '.join(_lit(c) for c in ids)})"

        def apply():
            model.delete(ids)

    def commit():
        res = writer.sql(sql)
        if res is not None:
            res.collect()
        return True

    table_root = counters["table_root"]
    before = _file_sizes(table_root) if h.tracer is not None else None
    committed, _ = h.op(kind, commit)
    if before is not None:
        added = {f: n for f, n in _file_sizes(table_root).items() if f not in before}
        data = os.path.join(table_root, "data")
        parquet = [n for f, n in added.items() if f.startswith(data) and f.endswith(".parquet")]
        meta = os.path.join(table_root, "metadata")
        counters["files_added"].append(len(parquet))
        counters["bytes_written"].append(sum(parquet))
        counters["meta_bytes"].append(sum(n for f, n in added.items() if f.startswith(meta)))
    if committed:
        apply()
    h.op("fresh_read", lambda: _run_sql(reader, STATE_AGG_SQL), _expect(model.state_totals()))


def consumer_ingest(h, engine, model, seed: int, seconds: float) -> dict:
    """Closed loop, one client. Each unit is one consumer job (a fresh
    team1 session and its statement mix, served from the views that
    session just built) followed by an INSERT, a MERGE and a DELETE
    through the writer's secured session, each followed by the
    per-state aggregate on a long-lived team1 session whose views the
    commit invalidated."""
    from sample_emr_on_eks_fgac_iceberg_spark import healthcare as hc

    rng = random.Random(f"fgac:{seed}")
    join_sql = _join_sql()
    writer = engine.session_for("writer")
    reader = engine.session_for(hc.TEAM1)
    team2 = engine.session_for(hc.TEAM2)
    counters = {
        "table_root": os.path.join(engine.warehouse.root, "claims"),
        "batches": 0,
        "files_added": [],
        "bytes_written": [],
        "meta_bytes": [],
    }

    # warm-up, untimed: JIT, codegen and Python-side imports
    consumer_job(h, engine, model, team2, rng, 0, join_sql)
    ingest_step(h, writer, reader, model, rng, "insert", counters)
    h.samples.clear()
    h.cpu_samples.clear()
    for k in h.units(seconds):
        consumer_job(h, engine, model, team2, rng, k + 1, join_sql)
        for kind in COMMIT_KINDS:
            ingest_step(h, writer, reader, model, rng, kind, counters)
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0  # noqa: E731
    return {
        "denied_planned": len(h.kind_ms("denied", True)),
        "warehouse.files_added_per_commit": mean(counters["files_added"]),
        "warehouse.bytes_written_per_commit": mean(counters["bytes_written"]),
        "iceberg_metadata.bytes_per_commit": mean(counters["meta_bytes"]),
    }


def user_bytes(model) -> int:
    """A fixed encoding of the live rows: their normalized values as
    UTF-8 text, one separator per value."""
    from perfbench.expect import norm

    n = 0
    for rows in (model.patients.values(), model.claims.values()):
        for r in rows:
            n += sum(len(norm(v).encode()) + 1 for v in r)
    return n


def storage_counters(engine, model) -> dict:
    wh = engine.warehouse
    live = sum(wh.files_df(t).count() for t in ("patients", "claims"))
    stored = sum(_file_sizes(wh.root).values())
    return {
        "warehouse.live_files": live,
        "warehouse.stored_bytes_per_user_byte": stored / user_bytes(model),
    }
