"""Seeded inputs for the benchmark.

The engine reads ten parquet tables (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``). This module writes tables
with the same schemas and value distributions, drawn from one seed, so
a run needs nothing outside its checkout. Sizes follow the sf0.01
fixtures: the queries in the mixes spend most of their time on fixed
per-query cost, and the larger fixture does not fit the run-time budget
(see README.md).

``write_stream_input`` writes the ``events`` table replayed by the
streaming workload: a Poisson arrival process whose event-time density
changes at each step of a rate ladder, so that the replay source, pacing
at a fixed event-time-to-wall-time speed, serves each step at its rate.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixtures.
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, n: int, span_days: int, offset_days: int = 0) -> pa.Array:
    days = rng.integers(0, span_days, n) + offset_days
    return pa.array(_EPOCH_1995_US + days * _DAY_US, pa.timestamp("us"))


def _events(rng, n: int, ts_ms: np.ndarray, n_users: int) -> dict:
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts_ms * 1000, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype="int64")),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, so the dedup
            # operators find pairs and clusters
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" if rng.random() < 0.5 else base)
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n, dim)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype="int32")),
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten engine tables into ``out_dir`` as
    ``<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    c = n["customer"]
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(c, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype="int32")),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], c
        ),
    })
    s = n["supplier"]
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(s, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype="int32")),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adjs = ["large", "hot", "blue", "small", "red", "cold", "green", "dark"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(p, dtype="int64")),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], p
        ),
        "p_size": pa.array(rng.integers(1, 51, p, dtype="int32")),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(o, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype="int64")),
        "o_orderstatus": rng.choice(["P", "O", "F"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days_us(rng, o, 2405),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ),
    })
    li = n["lineitem"]
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, p, li, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, s, li, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype="int32")),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days_us(rng, li, 2499, offset_days=1),
    })
    e = n["events"]
    # 30 days of events, exponential gaps (the fixture's arrival shape)
    gaps = rng.exponential(30 * 86_400_000 / e, e)
    ts = _EPOCH_2024_MS + np.cumsum(gaps).astype("int64")
    _write(f"{out_dir}/events.parquet", _events(rng, e, ts, 150))
    _write(f"{out_dir}/documents.parquet", _documents(rng, n["documents"]))
    _write(f"{out_dir}/embeddings.parquet", _embeddings(rng, n["embeddings"]))


def write_stream_input(
    out_dir: str,
    seed: int,
    steps: list[tuple[float, float]],
    speed: float,
) -> list[int]:
    """Write ``out_dir/events.parquet`` for a paced replay.

    ``steps`` is a list of (rate in events per wall second, wall
    seconds). At replay speed ``speed`` (event-time ms per wall ms) a
    step's events are spaced ``speed * 1000 / rate`` event-time ms apart
    on average. Returns the first event id of each step plus the total
    row count, so callers can map events back to steps."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1_000_003)
    gaps: list[np.ndarray] = []
    bounds = [0]
    for rate, seconds in steps:
        k = int(round(rate * seconds))
        gaps.append(rng.exponential(speed * 1000.0 / rate, k))
        bounds.append(bounds[-1] + k)
    ts = _EPOCH_2024_MS + np.cumsum(np.concatenate(gaps)).astype("int64")
    _write(f"{out_dir}/events.parquet", _events(rng, bounds[-1], ts, 1500))
    return bounds
