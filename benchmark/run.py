#!/usr/bin/env python3
"""The repo's benchmark, as one command.

    python3 benchmark/run.py --workload oedi_etl --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py and README.md) on ``local[nproc]``
in one process: set-up (session, seeded inputs, warm-up passes whose
outputs are also compared with DuckDB), then passes for ``--seconds``
in whole rotations of the workload's inputs, checking every
operation's output. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics of a traced run with ``--trace 1``.

Everything it writes lives under ``bench-work/`` in the checkout and
is removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# fails fast, before any output, when the package is not in the checkout
from nbi_oedi_etl_v2_spark import pipeline  # noqa: E402
from nbi_oedi_etl_v2_spark.plans.query_registry import NamedQuery  # noqa: E402
from nbi_oedi_etl_v2_spark.sources import fs, sinks  # noqa: E402

import tracing  # noqa: E402
import workloads  # noqa: E402

WORK_ROOT = "bench-work"
MIN_PASSES = 2

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "items_per_s": "1/s"}
SETUP_LAYER = ("session.get_spark_s", "setup.generate_s", "setup.check_s",
               "setup.warmup_s", "setup.warmup_passes")
PASS_LAYER = (
    "sources.reader.read_timeseries_s", "operators.downsample.construct_s",
    "sources.sinks.write_hourly_data_s", "sources.sinks.bypass_metadata_s",
    "sources.sinks.files_written", "sources.sinks.bytes_written",
    "sources.fs.list_files_recursive_s", "sources.fs.list_files_recursive_calls",
    "sources.catalog.register_etl_output_s", "pipeline.run_job_self_s",
    "plans.query_registry.run_s", "catalyst.plan_s",
    "trace.pass_s", "trace.residual_s",
) + tracing.SPARK_COUNTERS
KEY_LAYER = tuple(f"workload.{k}.{m}" for k in workloads.SQL_KEYS
                  for m in ("construct_s", "execute_s", "jobs"))
LAYER_METRICS = SETUP_LAYER + PASS_LAYER + KEY_LAYER


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "MB" if name.endswith("_mb") else "count"


def install_wraps(tracer: tracing.Tracer) -> None:
    """Spans around the public functions each layer exposes to the ETL
    pipeline and the query registry, patched from outside the package."""
    tracer.wrap(pipeline, "run_job", "pipeline.run_job")
    tracer.wrap(pipeline, "read_timeseries", "sources.reader.read_timeseries")
    tracer.wrap(pipeline, "downsample", "operators.downsample.construct")
    tracer.wrap(pipeline, "register_etl_output", "sources.catalog.register_etl_output")
    tracer.wrap(sinks, "write_hourly_data", "sources.sinks.write_hourly_data")
    tracer.wrap(sinks, "bypass_metadata", "sources.sinks.bypass_metadata")
    tracer.wrap(fs, "list_files_recursive", "sources.fs.list_files_recursive")
    tracer.wrap(NamedQuery, "run", "plans.query_registry.run")


def start_spark(work: str, trace: bool):
    from pyspark import SparkContext
    from nbi_oedi_etl_v2_spark.session import get_spark

    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(f"{work}/spark-local")
    os.environ["TMPDIR"] = os.path.abspath(f"{work}/tmp")
    if trace:
        events = os.path.abspath(f"{work}/events")
        os.makedirs(events)
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
            f"spark.eventLog.enabled=true;spark.eventLog.dir=file:{events};"
            # task-end heap peaks need polling; the default polls per heartbeat
            "spark.eventLog.compress=false;spark.executor.metrics.pollingInterval=100ms")
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        "benchmark", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.abspath(f"{work}/warehouse"),
            # keep the JVM's temp files in the checkout; no /tmp/hsperfdata
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkContext._gateway


def stop_spark(spark, gateway) -> None:
    """Stop Spark and wait for its JVM to exit."""
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Harness:
    def __init__(self, wl: workloads.Workload, tracer: tracing.Tracer | None):
        self.wl, self.tracer = wl, tracer
        self.attempted = self.failed = 0
        self.next_pass = 0

    def run_pass(self, warmup: bool) -> tuple[float, dict[str, float]]:
        pid, self.next_pass = self.next_pass, self.next_pass + 1
        sc = self.wl.spark.sparkContext
        lat = {}
        if self.tracer:
            self.tracer.pass_id = pid
        t0 = time.perf_counter()
        with self.tracer.span("pass") if self.tracer else nullcontext():
            for name, fn in self.wl.ops(pid):
                if self.tracer:
                    sc.setJobGroup(f"p{pid}|{name}", name)
                self.attempted += 1
                t = time.perf_counter()
                try:
                    ok = fn()
                except Exception:  # a failed op counts, the run goes on
                    print(f"pass {pid} {name} raised:", file=sys.stderr)
                    traceback.print_exc()
                    ok = False
                lat[name] = time.perf_counter() - t
                if not ok:
                    self.failed += 1
                    print(f"pass {pid} {name}: wrong result", file=sys.stderr)
        wall = time.perf_counter() - t0
        if warmup:
            problems = self.wl.check_pass(pid)
            self.attempted += 1
            if problems:
                self.failed += 1
                print(f"pass {pid} output check failed:\n" + "\n".join(problems),
                      file=sys.stderr)
        self.wl.after_pass(pid)
        if self.tracer:
            self.tracer.pass_id = None
        return wall, lat


def run(args, work: str) -> dict:
    tracer = tracing.Tracer() if args.trace else None
    layer: dict[str, float] = {}
    t = time.perf_counter()
    spark, gateway = start_spark(work, bool(args.trace))
    layer["session.get_spark_s"] = time.perf_counter() - t
    try:
        if tracer:
            install_wraps(tracer)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        h = Harness(wl, tracer)

        t = time.perf_counter()
        wl.setup()
        layer["setup.generate_s"] = time.perf_counter() - t

        t = time.perf_counter()
        warm = [h.run_pass(warmup=True)[0] for _ in range(wl.warmup_passes)]
        layer["setup.check_s"] = wl.oracle.total
        layer["setup.warmup_s"] = time.perf_counter() - t - layer["setup.check_s"]
        layer["setup.warmup_passes"] = len(warm)
        setup_s = time.perf_counter() - T_START - layer["setup.check_s"]

        first_measured = h.next_pass
        lat = defaultdict(list)
        walls = []
        t_end = time.perf_counter() + args.seconds
        while (len(walls) < MIN_PASSES or len(walls) % wl.rotation
               or time.perf_counter() < t_end):
            wall, op_lat = h.run_pass(warmup=False)
            walls.append(wall)
            for k, v in op_lat.items():
                lat[k].append(v)
        print(f"warm-up passes {[round(w, 3) for w in warm]} s, measured passes "
              f"{[round(w, 3) for w in walls]} s", file=sys.stderr)
    finally:
        if tracer:
            tracer.restore()
        stop_spark(spark, gateway)

    pass_s = sum(statistics.median(v) for v in lat.values())
    result = {"correct": h.failed == 0, "attempted": h.attempted, "failed": h.failed}
    if not args.trace:
        result["metrics"] = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "items_per_s": wl.items_per_pass * len(walls) / sum(walls),
        }
        units = E2E_UNITS
    else:
        pass_ids = list(range(first_measured, h.next_pass))
        layer.update(per_pass_layers(tracer, os.path.join(work, "events"), pass_ids))
        layer["trace.pass_s"] = pass_s
        if args.spans:
            tracer.dump(args.spans)
        result["metrics"] = {k: layer.get(k, 0.0) for k in LAYER_METRICS}
        units = {k: layer_unit(k) for k in LAYER_METRICS}
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    return result


def per_pass_layers(tracer: tracing.Tracer, events: str, pass_ids: list[int]) -> dict:
    """Median over the measured passes of every span, counter and Spark
    job-group total."""
    series = tracer.per_pass(pass_ids)
    groups = tracing.spark_counts(events)
    for c in tracing.SPARK_COUNTERS:
        per = []
        for pid in pass_ids:
            vals = [g[c] for name, g in groups.items() if name.startswith(f"p{pid}|")]
            per.append(max(vals, default=0.0) if c.endswith("_mb") else sum(vals))
        series[c] = per
    for key in workloads.SQL_KEYS:
        series[f"workload.{key}.jobs"] = [
            groups.get(f"p{pid}|{key}", {}).get("spark.jobs", 0.0) for pid in pass_ids]
    return {k: statistics.median(v) for k, v in series.items() if v}


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="traced run: write the spans (JSON lines) here")
    args = ap.parse_args()
    if args.spans:
        args.spans = os.path.abspath(args.spans)

    os.chdir(ROOT)
    work = os.path.abspath(f"{WORK_ROOT}/{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
