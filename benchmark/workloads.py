"""The benchmark's workloads.

A workload generates its inputs from the seed in ``setup``, then the
harness in ``run.py`` times its ``ops`` pass after pass. Each op returns
whether its output passed the per-operation check. ``check_pass`` (the
DuckDB comparisons, after warm-up passes only) and ``after_pass`` run
outside the timer.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections.abc import Callable
from contextlib import nullcontext

import duckdb
from pyspark.sql import SparkSession

import gen_lake
import gen_tpch
from nbi_oedi_etl_v2_spark import pipeline, workload
from nbi_oedi_etl_v2_spark.config import ETLConfig, JobConfig
from nbi_oedi_etl_v2_spark.plans.query_registry import load_registry
from nbi_oedi_etl_v2_spark.testing import compare

PKG_DIR = os.path.dirname(os.path.abspath(pipeline.__file__))
SAVED_QUERIES_SQL = os.path.join(PKG_DIR, "plans", "saved_queries.sql")
DB = "nbi_analytics"

Op = tuple[str, Callable[[], bool]]


def lake_dir(work: str) -> str:
    """Where a workload generates its lake, relative to the checkout
    root (the working directory). The metadata bypass copies each file
    under its whole source path, and Spark's listing skips directories
    whose names start with ``.`` or ``_``, so an absolute path through
    such a directory would hide the copies from the catalog."""
    return os.path.relpath(os.path.join(work, "lake"))


class OracleTimer:
    """Seconds spent inside its ``with`` blocks: the DuckDB oracle's
    time, which is the benchmark's and not the program's, so run.py
    takes it out of ``setup_s``."""

    def __init__(self) -> None:
        self.total = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.total += time.perf_counter() - self._t0


class Workload:
    name = ""
    items_per_pass = 1  # input files / queries / operator runs
    # Pass times keep falling for 40+ s of a fresh JVM (JIT, caches),
    # longer than a run can afford, so every run warms up for the same
    # number of passes and measures from the same point of that ramp.
    warmup_passes = 3
    # Passes per cycle of the inputs a pass rotates through; the harness
    # measures whole cycles so each input gets the same share of samples.
    rotation = 1

    def __init__(self, spark: SparkSession, work: str, seed: int, tracer=None):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.oracle = OracleTimer()

    def setup(self) -> None:
        pass

    def ops(self, pass_id: int) -> list[Op]:
        raise NotImplementedError

    def after_pass(self, pass_id: int) -> None:
        pass

    def check_pass(self, pass_id: int) -> list[str]:
        """Output checks too costly for every pass, run after each
        warm-up pass (outside the timer); returns the problems found."""
        return []

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _plan(self, df) -> None:
        """Traced run only: force Catalyst's physical plan from outside
        so planning time is split from execution."""
        if self.tracer:
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()


def etl_config(lake: dict, output_dir: str) -> ETLConfig:
    return ETLConfig(
        src_bucket=lake["bucket"],
        base_partition=gen_lake.BASE_PARTITION,
        data_partition_in_release=gen_lake.DATA_PARTITION,
        output_dir=output_dir,
        job_specific=[JobConfig(
            release_name=gen_lake.RELEASE, release_year=gen_lake.YEAR,
            state=gen_lake.STATE, upgrades=list(gen_lake.UPGRADES),
            metadata_root_dir=lake["metadata_root"],
            relative_metadata_prefix_type="1",
        )],
    )


def etl_problems(summary: pipeline.RunSummary, n_files: int) -> list[str]:
    """Per-pass output checks of one ETL refresh."""
    (job,) = summary.jobs
    ref = json.loads(summary.to_reference_json())
    missing = {k: v for sect in ("data_files_stats", "metadata_files_stats")
               for k, v in ref[sect].items() if k.endswith("_count") and v}
    checks = {
        "rows_read != 4 x rows_written": job.rows_read != 4 * job.rows_written,
        "listed != read files": job.data_files_listed != job.data_files_read,
        "listed != lake files": job.data_files_listed != n_files,
        "metadata not all copied": job.metadata_files_uploaded != len(gen_lake.UPGRADES),
        f"discrepancies {missing}": bool(missing),
    }
    return [k for k, bad in checks.items() if bad]


def oracle_connection() -> duckdb.DuckDBPyConnection:
    """A DuckDB connection whose ``spark_round`` and ``spark_davg``
    round as Spark does. Spark turns a double into a decimal through its
    shortest decimal form and rounds that half-up. DuckDB rounds the
    binary value, so on a decimal tie it can round the other way:
    round() on a tie at the 8th decimal (a 2-decimal mean over 64 rows,
    say), and the DECIMAL(38,10) cast inside ``davg`` on an input whose
    form ends at the 11th decimal (55.07487827065). The oracles call
    these macros in place of ``round`` and ``functions.davg_sql``.
    ``spark_davg`` parses each value into DECIMAL(18,10), not (38,10):
    the sum still widens to 38 digits, the parse is several times
    faster, and a value of 1e8 or more fails the cast rather than
    passing the check unnoticed."""
    con = duckdb.connect()
    con.execute("CREATE MACRO spark_round(x, d) AS CAST(CAST(round(CAST(CAST(x AS VARCHAR) "
                "AS DECIMAL(38,18)), d) AS VARCHAR) AS DOUBLE)")
    con.execute("CREATE MACRO spark_davg(x) AS CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) "
                "AS DECIMAL(18,10))) AS VARCHAR) AS DOUBLE) / COUNT(x)")
    return con


def hourly_oracle_problems(con: duckdb.DuckDBPyConnection, lake_glob: str,
                           data_path: str) -> list[str]:
    """Compare the hourly output with DuckDB's downsample of the input,
    as multisets of rows, inside DuckDB: moving ~200k rows into pandas
    for ``testing.compare`` took longer than the run's timed passes."""
    floats = ["out.electricity.total.energy_consumption",
              "out.natural_gas.total.energy_consumption",
              "out.site_energy.total.energy_consumption"]
    aggs = ", ".join(
        [f'spark_round(spark_davg("{c}"), 7) AS "{c}_mean"' for c in floats]
        + ["min(date_trunc('hour', ts15)) AS timestamp_min", "min(bldg_id) AS bldg_id_min",
           "min(units_represented) AS units_represented_min"])
    con.execute(f"""
        CREATE TEMP TABLE expected AS
        SELECT {aggs}, date_trunc('hour', ts15) AS "timestamp", bldg_id,
               CAST(upgrade AS VARCHAR) AS upgrade
        FROM (SELECT *, "timestamp" AS ts15
              FROM read_parquet('{lake_glob}', hive_partitioning = true))
        GROUP BY date_trunc('hour', ts15), bldg_id, upgrade""")
    con.execute(f"""
        CREATE TEMP TABLE actual AS
        SELECT * EXCLUDE (state, upgrade), CAST(upgrade AS VARCHAR) AS upgrade
        FROM read_parquet('{data_path}/*/*/*.parquet', hive_partitioning = true)""")
    cols = {v: sorted(r[0] for r in con.execute(f"DESCRIBE {v}").fetchall())
            for v in ("expected", "actual")}
    if cols["expected"] != cols["actual"]:
        return [f"column mismatch: {cols}"]
    sel = ", ".join(f'"{c}"' for c in cols["expected"])
    only = {v: con.execute(f"SELECT {sel} FROM {v} EXCEPT ALL SELECT {sel} FROM {w}").fetchall()
            for v, w in (("expected", "actual"), ("actual", "expected"))}
    return [f"{len(rows)} rows only in {v}, e.g. {rows[:3]}" for v, rows in only.items() if rows]


class OediEtl(Workload):
    """Repeated ``run_etl`` refreshes of one AK job over a lake with one
    building per file, catalog registration on."""

    name = "oedi_etl"
    N_BUILDINGS = 24  # × 2 upgrades = 48 data files
    # 15-minute readings per building: 26 weeks, half of a real OEDI
    # file's year. Sized so a pass splits across the layers as a
    # refresh of 2.34 M rows in 128 files does: the sink ~60%, listing
    # ~10%. Many one-day files would make listing dominate instead.
    ROWS = 17_472
    warmup_passes = 5  # its passes fall for longer than the analyst's

    def setup(self) -> None:
        self.lake = gen_lake.generate(lake_dir(self.work), self.seed,
                                      self.ROWS, self.N_BUILDINGS)
        self.items_per_pass = self.lake["data_files"]
        self.out = os.path.join(self.work, "etl_out")
        self.config = etl_config(self.lake, self.out)
        self.summary: pipeline.RunSummary | None = None

    def _refresh(self) -> bool:
        self.summary = pipeline.run_etl(self.spark, self.config, output_root=self.out,
                                        db=DB, max_concurrent_jobs=1)
        return not etl_problems(self.summary, self.lake["data_files"])

    def ops(self, pass_id: int) -> list[Op]:
        return [("etl_refresh", self._refresh)]

    def after_pass(self, pass_id: int) -> None:
        data_path = self.summary.jobs[0].data_path
        if self.tracer:
            files = [os.path.join(d, f) for d, _, fs in os.walk(data_path)
                     for f in fs if f.endswith(".parquet")]
            self.tracer.count("sources.sinks.files_written", len(files))
            self.tracer.count("sources.sinks.bytes_written",
                              sum(os.path.getsize(f) for f in files))
        shutil.rmtree(self.out, ignore_errors=True)

    def check_pass(self, pass_id: int) -> list[str]:
        """The first refresh's whole hourly output against DuckDB."""
        if pass_id:
            return []
        lake_glob = os.path.join(self.lake["bucket"], "**", "upgrade=*",
                                 "state=*", "*.parquet")
        with self.oracle, oracle_connection() as con:
            return hourly_oracle_problems(con, lake_glob,
                                          self.summary.jobs[0].data_path)


SQL_KEYS = (
    "q1_pricing_summary", "customers_per_segment", "topk_per_segment",
    "nation_customer_rollup", "q5_local_supplier_volume",
    "q18_large_volume_customers",
)


class AnalystQueries(Workload):
    """One client in a closed loop: the three saved queries over the
    catalog one ETL run builds, with rotating filter values, and the
    six headline SQL-surface keys."""

    name = "analyst_queries"
    PER_FILE = 36  # 563 buildings → 16 data files per upgrade
    ROWS = 96  # one day per building: the queries' planning and driver work dominates

    def setup(self) -> None:
        lake = gen_lake.generate(lake_dir(self.work), self.seed,
                                 self.ROWS, per_file=self.PER_FILE)
        self.tpch = os.path.join(self.work, "tpch")
        self.tpch_rows = gen_tpch.generate(self.tpch, self.seed)
        summary = pipeline.run_etl(self.spark, etl_config(lake, os.path.join(
            self.work, "etl_out")), db=DB, max_concurrent_jobs=1)
        if etl_problems(summary, lake["data_files"]):
            raise RuntimeError(f"setup ETL failed its checks: {summary.to_reference_json()}")
        self.job = summary.jobs[0]
        self.saved = list(load_registry(SAVED_QUERIES_SQL).values())
        self.filters = gen_lake.filter_values()
        self.rotation = len(self.filters)
        self.specs = workload.all_specs()
        self.items_per_pass = len(self.saved) + len(SQL_KEYS)
        self.expected_rows: dict[tuple[str, int], int] = {}

    def _subs(self, db: str, f: int) -> dict[str, str]:
        county, btype, group = self.filters[f]
        name = self.job.job_name.lower()
        return {"db": db, "metadata_table_prefix": f"metadata_{name}",
                "data_table_prefix": f"data_{name}", "state": "ak",
                "state_value": gen_lake.STATE, "county_value": county,
                "building_type": btype, "building_type_group": group}

    def _query(self, name: str, build: Callable[[], object]) -> bool:
        """Build, plan and fetch one query's result as pandas, the way an
        analyst's client receives it; check its row count."""
        with self._span(f"workload.{name}.construct"):
            df = build()
        self._plan(df)
        with self._span(f"workload.{name}.execute"):
            self.last[name] = df.toPandas()
        want = self.expected_rows.get((name, self.f))
        return want is None or want == len(self.last[name])

    def ops(self, pass_id: int) -> list[Op]:
        self.f = f = pass_id % len(self.filters)
        self.last: dict[str, object] = {}
        ops: list[Op] = [
            (q.name, lambda q=q: self._query(q.name, lambda: q.run(
                self.spark, self._subs(DB, f))))
            for q in self.saved
        ]
        ops += [(k, lambda k=k: self._query(k, lambda: self.specs[k].fn(
            self.spark, self.tpch))) for k in SQL_KEYS]
        return ops

    def _oracle_con(self) -> duckdb.DuckDBPyConnection:
        con = oracle_connection()
        con.execute("CREATE SCHEMA oracle_db")
        name = self.job.job_name.lower()
        files = ", ".join(f"'{p}'" for p in self.job.metadata_files)
        con.execute(f"CREATE VIEW oracle_db.metadata_{name}_parquet AS "
                    f"SELECT * FROM read_parquet([{files}])")
        con.execute(f"CREATE VIEW oracle_db.data_{name}_state_ak AS SELECT * FROM "
                    f"read_parquet('{self.job.data_path}/*/*/*.parquet', "
                    "hive_partitioning = true) WHERE state = 'AK'")
        for t in self.tpch_rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.tpch}/{t}.parquet')")
        return con

    def check_pass(self, pass_id: int) -> list[str]:
        """The three warm-up passes cover the three filter triples: compare each
        result with DuckDB over the same files and record the row counts
        that every later query is checked against."""
        if any(f == self.f for _, f in self.expected_rows):
            return []
        sql = {q.name: q.render(self._subs("oracle_db", self.f)) for q in self.saved}
        sql.update({k: re.sub(r"\bround\(", "spark_round(", self.specs[k].oracle)
                    for k in SQL_KEYS})
        problems = []
        with self.oracle, self._oracle_con() as con:
            for name, got in self.last.items():
                want = con.execute(sql[name]).df()
                problems += [f"{name}[{self.f}]: {p}" for p in compare(got, want)]
                self.expected_rows[(name, self.f)] = len(want)
        # filter triple 0 is the 520-building Healthcare group
        if self.f == 0 and self.expected_rows[
                ("isolated_individual_building_models", 0)] >= 520:
            problems.append("saved query 3 did not truncate at rn <= 500")
        return problems


WORKLOADS = {w.name: w for w in (OediEtl, AnalystQueries)}
