"""Expected results, computed without the engine.

Consumer statements are checked against ``HealthcareModel``: the
generated rows with the team1 row filter and column drop applied in
Python, updated by every commit the ingest workload makes. Operator
queries are checked against their DuckDB oracle over the same parquet
files. Both sides reduce to a row count plus an order-insensitive
digest of normalized values.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

from perfbench.gen import FIRST_PATIENT_ID

VISIBLE_STATES = ("Texas", "New York")  # healthcare.PATIENT_ROW_FILTER
SSN_INDEX = 6  # position of ssn in a generated patients row


def norm(v) -> str:
    """One value as text; equal values from Spark, DuckDB and Python
    normalize to the same string."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, int):
        return str(v)
    if hasattr(v, "isoformat"):  # pandas.Timestamp
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return norm(v.item())
    return str(v)


def digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256 prefix) of row tuples."""
    canon = sorted("\x1f".join(norm(v) for v in row) for row in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()[:16]
    return len(canon), h


def frame_digest(pdf) -> tuple[int, str]:
    """Digest of a pandas frame with its columns sorted by name, the
    comparison rule of the engine's oracle-parity tests."""
    pdf = pdf[sorted(pdf.columns)]
    return digest(pdf.itertuples(index=False))


class HealthcareModel:
    """The fixture's live rows and team1's view of them."""

    def __init__(self, patients: list[tuple], claims: list[tuple]):
        self.patients = {p[0]: p for p in patients}
        self.claims: dict[str, tuple] = {}
        self._ids: list[str] = []
        self._pos: dict[str, int] = {}
        self.insert(claims)

    # -- commits ---------------------------------------------------------
    def insert(self, rows) -> None:
        for r in rows:
            self._pos[r[0]] = len(self._ids)
            self._ids.append(r[0])
            self.claims[r[0]] = r

    def set_amounts(self, amounts: dict[str, decimal.Decimal]) -> None:
        for cid, amount in amounts.items():
            r = self.claims[cid]
            self.claims[cid] = r[:5] + (amount,) + r[6:]

    def delete(self, ids) -> None:
        for cid in ids:
            del self.claims[cid]
            i = self._pos.pop(cid)
            last = self._ids.pop()
            if last != cid:
                self._ids[i] = last
                self._pos[last] = i

    def sample_claim_ids(self, rng, k: int) -> list[str]:
        return sorted({self._ids[rng.randrange(len(self._ids))] for _ in range(k)})

    # -- team1 reads -----------------------------------------------------
    def _visible(self, pid: int) -> bool:
        return self.patients[pid][5] in VISIBLE_STATES

    @staticmethod
    def _filtered(p: tuple) -> tuple:
        return p[:SSN_INDEX] + p[SSN_INDEX + 1:]

    def scan_top20(self) -> list[tuple]:
        ids = sorted(pid for pid in self.patients if self._visible(pid))[:20]
        return [self._filtered(self.patients[pid]) for pid in ids]

    def point(self, pid: int) -> list[tuple]:
        if pid in self.patients and self._visible(pid):
            return [self._filtered(self.patients[pid])]
        return []

    def join_top20(self) -> list[tuple]:
        rows = []
        for c in self.claims.values():
            if self._visible(c[1]):
                p = self.patients[c[1]]
                rows.append((p[5], c[0], c[2], p[1], c[3], c[4], c[5], c[6], c[7]))
        rows.sort(key=lambda r: (r[0], r[2], r[1]))
        return rows[:20]

    def state_totals(self) -> list[tuple]:
        acc: dict[str, list] = {}
        for c in self.claims.values():
            if self._visible(c[1]):
                a = acc.setdefault(self.patients[c[1]][5], [0, decimal.Decimal(0)])
                a[0] += 1
                a[1] += c[5]
        return [(s, n, total) for s, (n, total) in acc.items()]

    def pick_patient(self, rng, visible: bool) -> int:
        while True:
            pid = FIRST_PATIENT_ID + rng.randrange(len(self.patients))
            if self._visible(pid) == visible:
                return pid


def oracle_digests(data_dir: str, table_names, queries: dict[str, str]) -> dict:
    """Query name -> (columns, row count, digest) of its DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in table_names:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name, sql in queries.items():
            pdf = con.sql(sql).arrow().to_pandas(date_as_object=True)
            out[name] = (sorted(pdf.columns), *frame_digest(pdf))
        return out
    finally:
        con.close()
