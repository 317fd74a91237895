"""Deterministic star-schema tables for the benchmark.

The tables have the shape of the repo's TPC-H-ish fixtures (FIXTURES.md
section 1): ``region nation customer supplier part orders lineitem
events``, one parquet file each, with microsecond timestamps.  Row counts
scale with ``sf`` like the fixtures (lineitem ~ 6M x sf).  The same
``sf`` and data seed always give byte-identical values.

``ensure(root, sf, names)`` writes the named tables once into a
directory of ``root`` (a temp directory renamed into place, so a
half-written set is never used) and returns that directory.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated values change, so stale caches are not reused.
VERSION = 1

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "large", "steel", "ring", "widget", "bolt"]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = int(base.timestamp() * 1_000_000) + (seconds * 1_000_000).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype(np.int64) * 86400)


def tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_events = max(10, int(1_000_000 * sf))
    epoch95 = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
    epoch24 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    words = np.array(PART_WORDS)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                words[rng.integers(0, 4, n_part)],
                words[rng.integers(4, 8, n_part)],
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(epoch95, rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(lineno, type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(epoch95, rng.integers(0, 2600, n_line)),
    })
    secs = np.sort(rng.integers(0, 30 * 86400, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), type=pa.int64()),
        "ts": _ts(epoch24, secs + np.round(rng.uniform(0, 1, n_events), 6)),
        "user_id": pa.array(
            rng.integers(0, max(10, int(15_000 * sf)), n_events), type=pa.int64()
        ),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 20, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return out


def ensure(root: str, sf: float, names) -> str:
    """Directory holding the parquet files of tables ``names`` at
    ``sf``; generated once."""
    final = os.path.join(root, f"v{VERSION}-sf{sf}-" + "-".join(sorted(names)))
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        if name in names:
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return final
