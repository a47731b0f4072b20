"""Seeded OEDI-shaped lake: one building per data file, like the
reference's published run (1,126 data files + 2 metadata files).

Layout (the package's ``sources.paths`` conventions):

    {root}/oedi-data-lake/{BASE_PARTITION}/{YEAR}/{RELEASE}/
        timeseries_individual_buildings/by_state/
            upgrade={0,1}/state=AK/bldg{id}.parquet
        metadata_and_annual_results/by_state/state=AK/parquet/
            AK_{baseline,upgrade01}_metadata_and_annual_results.parquet

563 AK buildings × 2 upgrades at full size; a smaller lake takes the
first ``n_buildings`` of the plan, and several buildings may share a
file. 520 of them are Healthcare/Hospital in
one county, so saved query 3's ``rn <= 500`` path truncates. Every
random stream is keyed on ``(seed, upgrade, building)``, never on
``hash()``, so the same seed gives byte-identical files in every process.

    python3 benchmark/gen_lake.py OUT_DIR --seed 1 --rows 17472 [--buildings N --per-file K]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_PARTITION = "nrel-pds-building-stock/end-use-load-profiles-for-us-building-stock"
RELEASE = "comstock_bench_release_1"
YEAR = "2024"
DATA_PARTITION = "timeseries_individual_buildings/by_state"
STATE = "AK"
UPGRADES = ("0", "1")
T0_US = 1_514_764_800_000_000  # 2018-01-01T00:00:00Z, on an hour boundary
STEP_US = 15 * 60 * 1_000_000

# (first bldg_id, count, county, type, type group)
BUILDING_PLAN = (
    (1000, 520, "AK, Ketchikan Gateway Borough", "Hospital", "Healthcare"),
    (2000, 30, "AK, Ketchikan Gateway Borough", "SmallOffice", "Office"),
    (3000, 13, "AK, Anchorage Municipality", "RetailStandalone", "Mercantile"),
)
# Metadata-only buildings: the saved queries' inner join drops them.
EXTRA_META = (9000, 20, "AK, Ketchikan Gateway Borough", "Hospital", "Healthcare")


def buildings(plan=BUILDING_PLAN) -> list[tuple[int, str, str, str]]:
    return [(first + i, county, btype, group)
            for first, n, county, btype, group in plan for i in range(n)]


def filter_values() -> list[tuple[str, str, str]]:
    """The distinct (county, type, type group) triples the analyst
    queries rotate through."""
    return [(county, btype, group) for _f, _n, county, btype, group in BUILDING_PLAN]


def _upgrade_str(upgrade: str) -> str:
    return "baseline" if upgrade == "0" else f"upgrade{int(upgrade):02}"


def timeseries_table(rng: np.random.Generator, bldg_id: int, rows: int) -> pa.Table:
    elec = rng.uniform(0.0, 100.0, rows)
    gas = rng.uniform(0.0, 50.0, rows)
    gas_null = rng.random(rows) < 0.05
    site = rng.uniform(-5.0, 200.0, rows)
    site[rng.random(rows) < 0.02] = 0.0
    return pa.table({
        "timestamp": pa.array(T0_US + np.arange(rows, dtype=np.int64) * STEP_US,
                              type=pa.timestamp("us")),
        "bldg_id": np.full(rows, bldg_id, dtype=np.int64),
        "out.electricity.total.energy_consumption": elec,
        "out.natural_gas.total.energy_consumption": pa.array(gas, mask=gas_null),
        "out.site_energy.total.energy_consumption": site,
        "units_represented": rng.integers(1, 20, rows),
    })


def metadata_table(rng: np.random.Generator, upgrade: str) -> pa.Table:
    rows = buildings(BUILDING_PLAN + (EXTRA_META,))
    return pa.table({
        "bldg_id": pa.array([r[0] for r in rows], pa.int64()),
        "in.state": [STATE] * len(rows),
        "in.county_name": [r[1] for r in rows],
        "in.comstock_building_type": [r[2] for r in rows],
        "in.comstock_building_type_group": [r[3] for r in rows],
        "out.site_energy.total.energy_consumption": rng.uniform(1e4, 1e6, len(rows)),
        "upgrade": [upgrade] * len(rows),
    })


def generate(root: str, seed: int, rows: int, n_buildings: int | None = None,
             per_file: int = 1) -> dict[str, str | int]:
    """Write the lake under ``root``: the first ``n_buildings`` of the
    plan (all by default), ``per_file`` buildings per data file, and
    ``rows`` 15-minute readings per building (a multiple of 4, so every
    hour has exactly 4 readings)."""
    if rows % 4:
        raise ValueError("rows must be a multiple of 4")
    ids = [b[0] for b in buildings()][:n_buildings]
    bucket = os.path.join(root, "oedi-data-lake")
    release_root = os.path.join(bucket, BASE_PARTITION, YEAR, RELEASE)
    meta_root = os.path.join(release_root, "metadata_and_annual_results")
    n_files = 0
    for u, upgrade in enumerate(UPGRADES):
        part_dir = os.path.join(release_root, DATA_PARTITION,
                                f"upgrade={upgrade}", f"state={STATE}")
        os.makedirs(part_dir, exist_ok=True)
        for i in range(0, len(ids), per_file):
            chunk = ids[i:i + per_file]
            tbl = pa.concat_tables(
                timeseries_table(np.random.default_rng([seed, u, b]), b, rows)
                for b in chunk)
            pq.write_table(tbl, os.path.join(part_dir, f"bldg{chunk[0]}.parquet"),
                           compression="snappy")
            n_files += 1
        meta_dir = os.path.join(meta_root, "by_state", f"state={STATE}", "parquet")
        os.makedirs(meta_dir, exist_ok=True)
        pq.write_table(
            metadata_table(np.random.default_rng([seed, u, 0]), upgrade),
            os.path.join(meta_dir, f"{STATE}_{_upgrade_str(upgrade)}"
                                   "_metadata_and_annual_results.parquet"),
            compression="snappy",
        )
    return {"bucket": bucket, "metadata_root": meta_root, "data_files": n_files,
            "rows": len(ids) * len(UPGRADES) * rows}


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--buildings", type=int, default=None)
    ap.add_argument("--per-file", type=int, default=1)
    a = ap.parse_args()
    print(generate(a.out_dir, a.seed, a.rows, a.buildings, a.per_file))
