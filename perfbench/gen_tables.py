"""Seeded star-schema, event and corpus tables for the query workload.

The same distributional family as the engine's synthetic test tables
(a TPC-H-ish star schema plus ``events`` and ``documents``), with the
same column names and parquet types, so the registered queries and
their DuckDB oracles run on them unchanged.
Everything is drawn from one ``numpy`` PCG64 stream seeded by the
caller: the same seed writes the same tables.

``mult`` scales row counts against the sf0.1 profile (150k orders,
~600k lineitem, 5k documents, 100k events); ``0.1`` gives the sf0.01
sizes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

BASE_DOCS, BASE_EVENTS = 5_000, 100_000
BASE_CUST, BASE_SUPP, BASE_PART, BASE_ORDERS = 15_000, 1_000, 20_000, 150_000
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.0016

_SEGMENTS = ["MACHINERY", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD", "BUILDING"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Texts drawn from a closed 30-word vocabulary, with 5% near
    duplicates (a copy of another text plus " dup") and ~0.16% exact
    copies."""
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), size=ln)])
        for ln in rng.integers(10, 101, size=n)
    ]
    n_near = int(n * NEAR_DUP_FRAC)
    n_exact = int(n * EXACT_DUP_FRAC)
    victims = rng.choice(n, size=n_near + n_exact, replace=False)
    for i in victims[:n_near]:
        texts[int(i)] = texts[int(rng.integers(0, n))] + " dup"
    for i in victims[n_near:]:
        src = int(rng.integers(0, n))
        if int(i) != src:
            texts[int(i)] = texts[src]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in rng.permutation(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def events(n: int, rng: np.random.Generator) -> pa.Table:
    """30 days of events, ~67 per user, five event types."""
    n_users = max(1, n // 67)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + rng.integers(0, span_us, size=n).astype("timedelta64[us]")
    ts.sort()
    value = np.round(
        np.abs(rng.normal(45.0, 40.0, size=n)) + rng.exponential(5.0, size=n), 2
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, n_users, size=n)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def _days(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    """Midnight-aligned TIMESTAMP(us), uniform over [start, start+days)."""
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days, size=n) * np.int64(86_400_000_000)).astype(
        "timedelta64[us]"
    )


def star(mult: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust, n_supp = int(BASE_CUST * mult), int(BASE_SUPP * mult)
    n_part, n_ord = int(BASE_PART * mult), int(BASE_ORDERS * mult)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(0, 10000, n_supp), 2)),
        }
    )
    names = rng.integers(0, len(_ADJ) * len(_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{_ADJ[i // len(_NOUN)]} {_NOUN[i % len(_NOUN)]}" for i in names],
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PTYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2400)),
            "o_orderpriority": pa.array(rng.choice(_PRIOS, n_ord)),
        }
    )
    lines = np.clip(1 + rng.poisson(3.07, n_ord), 1, 17)
    n_li = int(lines.sum())
    linenum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), lines)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(linenum.astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
            "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", 2490)),
        }
    )
    return t


def write_all(out_dir: str, seed: int, mult: float) -> None:
    """Write every table as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = star(mult, rng)
    tables["events"] = events(int(BASE_EVENTS * mult), rng)
    tables["documents"] = documents(int(BASE_DOCS * mult), rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
