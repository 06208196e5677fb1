"""Deterministic benchmark inputs, generated from the run's seed.

Everything here is plain NumPy + pyarrow: the engine under test only
ever sees the parquet files written below, never the generator.  The
same seed writes the same rows (``tests/test_perfbench.py`` checks it).

* :func:`write_lineitem` writes a lineitem-shaped fact table, the input
  that ``plans.pipeline_e2e.synth_trips_staging`` maps to trip staging
  rows.  Each file is an independently drawn replica with its own id
  range, so the measure columns and ids differ per replica and parquet
  cannot dictionary-encode the replicas away.
* :func:`write_suite_tables` writes the ten tables the suite registry
  loads (``schema.TESTDATA_TABLES``; the oracle's DuckDB session opens
  all of them) at a small scale: enough rows for every branch of the
  benchmarked operators, few enough that their fixed costs (jobs,
  stages, plan building) dominate.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SHIP_START = np.datetime64("1992-01-02")
_SHIP_DAYS = 1096  # three years: 36 gold month partitions
_LINES_PER_ORDER = 4


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _lineitem(rng: np.random.Generator, rows: int, first_row: int,
              n_parts: int, n_supps: int) -> pa.Table:
    idx = np.arange(first_row, first_row + rows)
    qty = rng.integers(1, 51, rows).astype(np.float64)
    return pa.table({
        "l_orderkey": idx // _LINES_PER_ORDER + 1,
        "l_partkey": rng.integers(1, n_parts + 1, rows),
        "l_suppkey": rng.integers(1, n_supps + 1, rows),
        "l_linenumber": (idx % 7 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, rows), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, rows), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, rows), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, rows)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, rows)],
        "l_shipdate": (
            _SHIP_START + rng.integers(0, _SHIP_DAYS, rows).astype("timedelta64[D]")
            + rng.integers(0, 86_400, rows).astype("timedelta64[s]")
        ).astype("datetime64[us]"),
    })


def write_lineitem(path: str, rows: int, files: int, seed: int) -> int:
    """Write ``rows`` lineitem rows as ``files`` replicas under ``path``;
    return the bytes written."""
    os.makedirs(path, exist_ok=True)
    per_file = -(-rows // files)
    total = 0
    for i in range(files):
        n = min(per_file, rows - i * per_file)
        table = _lineitem(_rng(seed, 1, i), n, i * per_file, n_parts=20_000, n_supps=1_000)
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table, f)
        total += os.path.getsize(f)
    return total


_WORDS = (
    "a the data spark query table join sort scan filter group agg key value "
    "window hash merge batch stream line part order customer vector column "
    "row fast slow big small index shard cache plan stage task job shuffle "
    "partition file write read token model score rank graph node edge"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    weights = 1.0 / np.arange(1, len(_WORDS) + 1) ** 0.8
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(8, 60)), p=weights / weights.sum()))
             for _ in range(n)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n,
        "source": np.array(["web", "forum", "news"])[rng.integers(0, 3, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ks = rng.integers(0, 100, n)
    # a tenth of the events carry no item key, so the edge filter drops them
    props = [json.dumps({"k": int(k)}) if k >= 10 else json.dumps({"q": int(k)})
             for k in ks]
    ts = np.datetime64("2024-01-01") + np.sort(
        rng.integers(0, 7 * 86_400_000_000, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, len(_EVENT_TYPES), n)],
        "value": np.round(rng.uniform(0.0, 200.0, n), 2),
        "props": props,
    })


def write_suite_tables(path: str, seed: int, scale: float = 1.0) -> dict:
    """Write the registry's ten input tables under ``path``; return their
    row counts and the bytes written.  ``scale=1`` is about a thousandth
    of TPC-H sf1."""
    n_li = max(400, int(6_000 * scale))
    n_orders = -(-n_li // _LINES_PER_ORDER)
    n_cust, n_supp, n_part = max(20, n_orders // 10), 10, 200
    rng = _rng(seed, 2)
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_cust), 2),
            "c_mktsegment": np.array(["AUTO", "BUILDING", "MACHINERY"])[
                rng.integers(0, 3, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(1, n_part + 1)],
            "p_brand": [f"Brand#{i % 5 + 1}{i % 4 + 1}" for i in range(n_part)],
            "p_type": np.array(["STANDARD", "SMALL", "LARGE"])[rng.integers(0, 3, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n_part), 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(800.0, 400_000.0, n_orders), 2),
            "o_orderdate": (_SHIP_START + rng.integers(0, _SHIP_DAYS, n_orders)
                            .astype("timedelta64[D]")).astype("datetime64[us]"),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM"])[
                rng.integers(0, 3, n_orders)],
        }),
        "lineitem": _lineitem(rng, n_li, 0, n_part, n_supp),
        "events": _events(rng, max(500, int(4_000 * scale)), n_users=200),
        "documents": _documents(rng, max(60, int(400 * scale))),
        "embeddings": pa.table({
            "vec_id": np.arange(50, dtype=np.int64),
            "embedding": pa.array(
                list(rng.normal(size=(50, 8)).astype(np.float32)),
                type=pa.list_(pa.float32())),
            "label": rng.integers(0, 5, 50).astype(np.int32),
        }),
    }
    os.makedirs(path, exist_ok=True)
    total = 0
    for name, table in tables.items():
        f = os.path.join(path, f"{name}.parquet")
        pq.write_table(table, f)
        total += os.path.getsize(f)
    return {"table_rows": {n: t.num_rows for n, t in tables.items()}, "table_bytes": total}
