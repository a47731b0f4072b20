#!/usr/bin/env python3
"""Run the benchmark once per seed and summarise each metric.

    python3 benchmark/repeat.py --seeds 1-10 --out set1.json
    python3 benchmark/repeat.py --seeds 11-20 --out set2.json --compare set1.json

Each run is ``run.py`` in its own process for BENCHMARK.json's
``run_seconds``, its workloads interleaved per seed. The summary gives,
per workload and metric, the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median``; ``--compare`` adds the drift of each median
against an earlier set. With ``--trace 1`` it summarises the per-layer
metrics of traced runs instead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(runs: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for wl in sorted({r["workload"] for r in runs}):
        results = [r["result"] for r in runs if r["workload"] == wl and r["result"]]
        metrics = {}
        for name, m in results[0]["metrics"].items():
            vals = [res["metrics"][name]["value"] for res in results]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
            metrics[name] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med if med else 0.0, "n": len(vals)}
        out[wl] = {
            "runs": len(results),
            "all_correct": all(r["correct"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "max_wall_s": max(r["wall_s"] for r in runs if r["workload"] == wl),
            "metrics": metrics,
        }
    return out


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description="Repeat the benchmark over seeds.")
    ap.add_argument("--seeds", required=True, help="a seed or a range such as 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare", help="an earlier --out file of the same kind")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        for wl in [w["name"] for w in bench["workloads"]]:
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(args.trace)],
                capture_output=True, text=True, cwd=os.path.dirname(HERE))
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            passes = [ln for ln in proc.stderr.splitlines() if ln.startswith("warm-up")]
            runs.append({"workload": wl, "seed": seed, "returncode": proc.returncode,
                         "wall_s": time.perf_counter() - t, "passes": passes[-1:],
                         "result": result})
            print(json.dumps(runs[-1]), file=sys.stderr, flush=True)

    report = {"seconds": bench["run_seconds"], "trace": args.trace,
              "summary": summarise(runs), "runs": runs}
    if args.compare:
        with open(args.compare, encoding="utf-8") as fh:
            before = json.load(fh)["summary"]
        for wl, s in report["summary"].items():
            for name, m in s["metrics"].items():
                old = before.get(wl, {}).get("metrics", {}).get(name)
                if old and old["median"]:
                    m["drift_vs_compare"] = m["median"] / old["median"] - 1
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report["summary"], indent=1))
    return 0 if all(s["all_correct"] and s["runs"] == len(seeds(args.seeds))
                    for s in report["summary"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
