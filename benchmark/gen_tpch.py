"""Seeded generator for the TPC-H-shaped tables the headline SQL-surface
keys read (``{out_dir}/{table}.parquet``).

Column names, types and value ranges follow the synthetic tables the
package is tested against (TESTDATA.md): lineitem rows ~ 6M × SF, lines
per order Poisson(4) so ~2% of orders have none and ~0.3% pass Q18's
quantity > 300. The same ``seed`` gives byte-identical files.

    python3 benchmark/gen_tpch.py OUT_DIR --seed 1
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000
D1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
SF = 0.01  # scale factor: 60,000 lineitem rows


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, base_us: int, span_days: int, n: int) -> pa.Array:
    us = base_us + rng.integers(0, span_days, n, dtype=np.int64) * DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x7C4])
    n_cust, n_supp = int(150_000 * SF), int(10_000 * SF)
    n_part, n_ord = int(200_000 * SF), int(1_500_000 * SF)
    n_line = 4 * n_ord

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 850.0, 550_000.0, n_ord),
        "o_orderdate": _days(rng, D1995_US, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    # each line lands on a uniform order: lines per order ~ Poisson(4)
    l_order = np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64))
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    first = np.repeat(starts, np.diff(np.r_[starts, n_line]))
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": (np.arange(n_line) - first + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, D1995_US + DAY_US, 2498, n_line),
    })
    return out


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        rows[name] = tbl.num_rows
    return rows


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(generate(a.out_dir, a.seed))
