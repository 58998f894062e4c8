"""Seeded input tables for the tier benchmark.

Writes the ten tables the engine's catalog reads (``sources.tables.TABLES``)
as one Parquet file each, with the schemas and value distributions of the
engine's synthetic fixture universe (TPC-H-style dimensions plus an
``events`` stream, ``documents`` and ``embeddings``).  The same seed always
gives byte-identical tables; the benchmark uses one fixed data seed so that
the recorded fingerprints of the windowed dashboard variants stay valid,
and derives every per-run choice (page order, day windows, ETL cuts, drill
order) from ``--seed``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# Row counts: the TPC-H dimensions at the fixture universe's sf0.01 sizes,
# documents and embeddings at their fixed sizes, and 3,000 events (between
# sf0.001 and sf0.01).  Both workloads are bound by per-job overhead at
# these sizes; the small events table keeps one run near a minute.
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 3_000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
EVENT_DAYS = 30
EMB_DIM = 64
EMB_LABELS = 10

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["small", "red", "hot", "old", "large", "blue"]
_PART_NOUN = ["ring", "widget", "plate", "rod"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en"] * 44 + ["zh"] * 15 + ["es"] * 15 + ["de"] * 14 + ["fr"] * 12


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _dates(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return np.datetime64(lo, "us") + days.astype("timedelta64[D]")


def _events(rng) -> pa.Table:
    n = SIZES["events"]
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    gaps = rng.exponential(1.0, n)
    offs = np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(
                np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def _documents(rng) -> pa.Table:
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document with a marker suffix
            texts.append(
                texts[int(rng.integers(0, i))]
                + " dup" * int(rng.integers(1, 3))
            )
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    n = SIZES["embeddings"]
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, seed: int = DATA_SEED) -> dict[str, int]:
    """Write every table under ``out_dir``; return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32 = pa.int32()
    nat = np.arange(25)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nat, i32),
                "n_name": [f"NATION_{k}" for k in nat],
                "n_regionkey": pa.array(nat % 5, i32),
            }
        ),
    }
    nc = SIZES["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = SIZES["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = SIZES["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                for _ in range(npart)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = SIZES["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, no), 2),
            "o_orderdate": pa.array(
                _dates(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
                pa.timestamp("us"),
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = SIZES["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": pa.array(
                _dates(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
                pa.timestamp("us"),
            ),
        }
    )
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}
