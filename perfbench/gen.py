"""Seeded input generators.

``healthcare`` builds a scaled copy of the reference's two-table
fixture (patients with a state-based row filter and an ssn column the
filter drops; claims keyed on patient_id). ``analytics_tables`` builds
the TPC-H-shaped star schema plus the events / documents / embeddings
tables the operator registry reads, with the column names, types and
value domains of the engine's test data. The same seed always yields
the same rows; nothing here touches Spark.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference fixture's twelve cities; the team1 row filter keeps the
# Texas and New York ones.
CITIES = (
    ("Los Angeles", "California"),
    ("San Francisco", "California"),
    ("San Diego", "California"),
    ("Sacramento", "California"),
    ("Houston", "Texas"),
    ("Austin", "Texas"),
    ("Dallas", "Texas"),
    ("San Antonio", "Texas"),
    ("New York City", "New York"),
    ("Buffalo", "New York"),
    ("Rochester", "New York"),
    ("Albany", "New York"),
)
STATUSES = ("Approved", "Pending", "Denied")
DIAGNOSES = ("J45.901", "M54.5", "I10", "E11.9", "J30.1", "K21.9", "M25.511", "N39.0", "L40.0", "F41.1")
PROCEDURES = ("99213", "97110", "99214", "82947", "95004", "43235", "73560", "81001", "96910", "90834")
FIRST_PATIENT_ID = 100000
_T0 = dt.datetime(2025, 3, 28, 10, 0, 0)


def _rng(seed: int, stream: str) -> random.Random:
    # str seeds hash with sha512, so streams do not depend on PYTHONHASHSEED
    return random.Random(f"{stream}:{seed}")


def patients(seed: int, n: int) -> list[tuple]:
    rng = _rng(seed, "patients")
    rows = []
    for i in range(n):
        city, state = CITIES[rng.randrange(len(CITIES))]
        ts = _T0 + dt.timedelta(seconds=i)
        rows.append(
            (
                FIRST_PATIENT_ID + i,
                f"patient{i} {rng.choice('ABCDEFGHJKLMNPRSTW')}",
                dt.date(1940 + rng.randrange(65), 1 + rng.randrange(12), 1 + rng.randrange(28)),
                rng.choice("MF"),
                city,
                state,
                f"{rng.randrange(1000):03d}-{rng.randrange(100):02d}-{rng.randrange(10000):04d}",
                ts,
                ts,
            )
        )
    return rows


def claim_row(rng: random.Random, claim_id: str, n_patients: int, t: dt.datetime) -> tuple:
    return (
        claim_id,
        FIRST_PATIENT_ID + rng.randrange(n_patients),
        dt.date(2025, 1, 1) + dt.timedelta(days=rng.randrange(120)),
        rng.choice(DIAGNOSES),
        rng.choice(PROCEDURES),
        Decimal(rng.randrange(1000, 100000)).scaleb(-2),
        rng.choice(STATUSES),
        f"DR{rng.randrange(1000):03d}",
        t,
        t,
    )


def claims(seed: int, n: int, n_patients: int) -> list[tuple]:
    rng = _rng(seed, "claims")
    return [
        claim_row(rng, f"CLM{i:07d}", n_patients, _T0 + dt.timedelta(seconds=i))
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# analytics star schema

NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "red", "small", "large", "cold", "hot", "old", "new")
PART_NOUN = ("widget", "bolt", "rod", "gear", "ring", "anvil", "plate", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def analytics_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (TPC-H row ratios; the
    text and vector tables keep at least 500 rows)."""
    rng = np.random.default_rng([seed, 7])
    n_cust = max(100, int(150_000 * sf))
    n_orders = max(1000, int(1_500_000 * sf))
    n_line = 4 * n_orders
    n_part = max(100, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(50_000 * sf))
    day = np.int64(86_400_000_000)

    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(NATIONS)],
            "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)].tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _ts(np.datetime64("1995-01-01T00:00:00", "us"), order_day * day),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)].tolist(),
        }
    )
    l_order = rng.integers(0, n_orders, n_line)
    linenumber = np.zeros(n_line, dtype=np.int32)
    seen: dict[int, int] = {}
    for i, k in enumerate(l_order.tolist()):
        seen[k] = seen.get(k, 0) + 1
        linenumber[i] = seen[k]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
            "l_shipdate": _ts(
                np.datetime64("1995-01-01T00:00:00", "us"),
                (order_day[l_order] + rng.integers(1, 122, n_line)) * day,
            ),
        }
    )
    ev_off = np.sort(rng.integers(0, 30 * int(day), n_events))
    n_users = max(15, n_events // 67)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(np.datetime64("2024-01-01T00:00:00", "us"), ev_off),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)].tolist(),
            "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)].tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
