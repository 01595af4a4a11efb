"""Warehouse scans are planned from metadata alone.

An Iceberg scan is planned from the manifests: the file list and the
schema are both in metadata, so planning touches no data. The
warehouse's contract is the same. ``read_table`` hands the reader the
manifest's file list and an explicit schema built from the declared
schema and partition spec, so planning a read starts no Spark job —
neither a schema-inference job nor a distributed listing job (Spark
starts one above 32 paths unless the listing threshold is pinned, see
``session.PARTITION_DISCOVERY_THRESHOLD``). Positional delete files are
read with their fixed spec schema for the same reason.

Jobs are counted through a ``statusTracker`` job group around the
planning call only; the rows and dtypes are then checked against a
Python model of the table.
"""

import datetime as dt
import uuid
from decimal import Decimal

import pytest

from sample_emr_on_eks_fgac_iceberg_spark import FgacEngine, healthcare
from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

SCHEMA = "k BIGINT, city STRING, d DATE, amt DECIMAL(10,2), ts TIMESTAMP"
DTYPES = [
    ("k", "bigint"),
    ("city", "string"),
    ("d", "date"),
    ("amt", "decimal(10,2)"),
    ("ts", "timestamp"),
]
CITIES = ("a", "b", "007")  # "007" must stay a string, not infer as 7


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"scan-planning-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "scan planning")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _model(n):
    return [
        (
            i,
            CITIES[i % 3],
            dt.date(2024, 1, 1 + i % 28),
            Decimal(i) / 100,
            # 40 days: the partitioned table clusters its writes by
            # partition value, so it needs >32 values for >32 files
            dt.datetime(2024, 1, 1, i % 24, 0, 0) + dt.timedelta(days=i % 40),
        )
        for i in range(n)
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


@pytest.mark.parametrize(
    "partition_by", [[], ["city", "bucket(4, k)", "day(ts)"]], ids=["flat", "partitioned"]
)
def test_read_table_over_32_files_starts_no_job(spark, wh, partition_by):
    rows = _model(240)
    wh.create_table("t", SCHEMA, partition_by=partition_by)
    batch = spark.sparkContext.parallelize(rows, 40)
    wh.insert_into("t", spark.createDataFrame(batch, SCHEMA))
    assert len(wh._live_files(wh._read_meta("t"))) > 32

    df, jobs = _jobs_started(spark, lambda: wh.read_table("t"))
    assert jobs == 0
    assert df.dtypes == DTYPES
    assert _rows(df) == sorted(rows)


def test_session_for_starts_no_job(spark, tmp_path):
    engine = FgacEngine(spark, str(tmp_path / "wh"))
    healthcare.setup_healthcare(engine)

    sess, jobs = _jobs_started(spark, lambda: engine.session_for(healthcare.TEAM1))
    assert jobs == 0
    cols = healthcare.PATIENT_ALLOWED_COLUMNS
    visible = sorted(
        tuple(r[i] for i in (0, 1, 2, 3, 4, 5, 7, 8))
        for r in healthcare.PATIENTS_ROWS
        if r[5] in ("Texas", "New York")
    )
    for name in ("patients", "rl_patients", healthcare.QUALIFIED_RL_PATIENTS):
        df = sess.sql(f"SELECT * FROM {name}")
        assert tuple(df.columns) == cols
        assert _rows(df) == visible
    claims = sess.sql("SELECT * FROM rl_claims")
    assert [t for _, t in claims.dtypes] == [
        "string", "bigint", "date", "string", "string", "decimal(10,2)",
        "string", "string", "timestamp", "timestamp",
    ]
    assert _rows(claims) == sorted(healthcare.CLAIMS_ROWS)


def test_positional_delete_scan_starts_no_job(spark, wh):
    rows = _model(60)
    wh.create_table("p", SCHEMA, partition_by=["city"])
    wh.set_delete_mode("p", "merge-on-read")
    wh.insert_into("p", spark.createDataFrame(rows, SCHEMA))
    assert wh.delete_from("p", "k % 7 = 0")["deleted_rows"] == 9
    meta = wh._read_meta("p")
    _, pos = wh._split_delete_kinds(meta, wh._live_delete_files(meta))
    assert pos

    df, jobs = _jobs_started(spark, lambda: wh.read_table("p"))
    assert jobs == 0
    assert df.dtypes == DTYPES
    assert _rows(df) == sorted(r for r in rows if r[0] % 7)
    deletes, jobs = _jobs_started(spark, lambda: wh.position_deletes_df("p"))
    assert jobs == 0
    assert deletes.count() == 9


def test_secure_session_reuses_base_table_scans(spark, tmp_path, monkeypatch):
    """Inside one SecureSession each base table is planned once per
    metadata version: resource links share the scan, a commit to claims
    re-plans claims only, and time travel always plans afresh. The
    policy filter still applies on every read. Loads are the session
    warehouse's outermost ``read_table`` calls (a resource link's load
    recurses into its target's)."""
    engine = FgacEngine(spark, str(tmp_path / "wh"))
    healthcare.setup_healthcare(engine)
    loads, open_calls = [], []
    load = Warehouse.read_table

    def spy(self, name, **kw):
        if self is not engine.warehouse and not open_calls:
            loads.append(name)
        open_calls.append(name)
        try:
            return load(self, name, **kw)
        finally:
            open_calls.pop()

    monkeypatch.setattr(Warehouse, "read_table", spy)

    sess = engine.session_for(healthcare.TEAM1)
    # a session loads nothing until a statement names a table; then
    # patients + 2 links share one scan, claims + 1 link another
    assert len(loads) == 0
    assert sess.table("rl_patients").count() == 8
    assert sess.sql("SELECT * FROM claims").count() == 10
    assert len(loads) == 2

    engine.warehouse.insert_values(
        "claims", [("CLM011",) + healthcare.CLAIMS_ROWS[0][1:]]
    )
    assert sess.sql("SELECT * FROM rl_claims").count() == 11
    assert sess.sql("SELECT * FROM patients").count() == 8
    assert len(loads) == 3 and loads[2] in ("claims", "rl_claims")

    sid = engine.warehouse.snapshots("claims")[0]["snapshot_id"]
    assert sess.sql(f"SELECT * FROM claims VERSION AS OF {sid}").count() == 10
    assert len(loads) == 4


def test_table_frames_self_join_through_dataframe_api(spark, tmp_path):
    """Reused scans still hand out frames with their own attribute ids,
    as a fresh load does: two ``.table()`` frames of one table, or of a
    table and its resource link, join and select either side."""
    engine = FgacEngine(spark, str(tmp_path / "wh"))
    healthcare.setup_healthcare(engine)
    sess = engine.session_for(healthcare.TEAM1)
    claims = healthcare.CLAIMS_ROWS

    a, b = sess.table("claims"), sess.table("claims")
    got = a.join(b, a.patient_id == b.patient_id).select(a.claim_id, b.amount)
    assert _rows(got) == sorted((r[0], r[5]) for r in claims)
    got = a.join(b, a.amount < b.amount).select(a.claim_id, b.claim_id)
    assert _rows(got) == sorted(
        (x[0], y[0]) for x in claims for y in claims if x[5] < y[5]
    )

    r = sess.table("rl_claims")
    got = a.join(r, a.patient_id == r.patient_id).select(r.claim_id, r.status)
    assert _rows(got) == sorted((c[0], c[6]) for c in claims)

    p, q = sess.table("patients"), sess.table("rl_patients")
    got = p.join(q, p.patient_id < q.patient_id).select(p.patient_id, q.patient_name)
    visible = [x for x in healthcare.PATIENTS_ROWS if x[5] in ("Texas", "New York")]
    assert _rows(got) == sorted(
        (x[0], y[1]) for x in visible for y in visible if x[0] < y[0]
    )
