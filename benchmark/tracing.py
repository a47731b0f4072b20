"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: :meth:`Tracer.wrap`
replaces a public function of a package module with a timing wrapper
at run time, so the package itself is never edited. Each span keeps
(name, start, end, parent, pass id) in memory; :meth:`Tracer.dump`
writes them out when the run ends.

Spark's own counts come from the uncompressed event log, which the
traced run turns on through ``SPARK_GRAFT_EXTRA_CONF``. The benchmark
sets a job group per pass and operation (``p{pass}|{op}``), and
:func:`spark_counts` sums the task metrics of every group.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    pass_id: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[tuple[int | None, str], float] = defaultdict(float)
        self.pass_id: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.pass_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[(self.pass_id, name)] += n

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``."""
        orig = getattr(owner, attr)

        def timed(*args, **kwargs):
            self.count(name + "_calls")
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, timed)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def per_pass(self, pass_ids: list[int]) -> dict[str, list[float]]:
        """{span name + '_s': [total seconds in each pass]}, plus
        ``<name>_self_s`` (duration minus direct children), every
        counter, and ``trace.residual_s``: the part of each pass span
        not covered by a child span."""
        out: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        child_time = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        for i, s in enumerate(self.spans):
            if s.pass_id is None:
                continue
            dur = s.end - s.start
            if s.name == "pass":
                out["trace.residual_s"][s.pass_id] += dur - child_time[i]
                continue
            out[s.name + "_s"][s.pass_id] += dur
            out[s.name + "_self_s"][s.pass_id] += dur - child_time[i]
        for (pid, name), n in self.counts.items():
            if pid is not None:
                out[name][pid] += n
        return {k: [v.get(p, 0.0) for p in pass_ids] for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.jvm_gc_s", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.jvm_heap_peak_mb",
)


def spark_counts(event_log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {counter: value}} from an uncompressed event log."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
    stage_group: dict[int, str] = {}
    # Spark 4 writes a rolling log: a directory of event files per app
    for path in sorted(glob.glob(f"{event_log_dir}/**/events_*", recursive=True)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        groups[g]["spark.jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                        groups[g]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    c = groups[g]
                    m = ev.get("Task Metrics") or {}
                    c["spark.tasks"] += 1
                    c["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["spark.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["spark.shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    c["spark.spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                    heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
                    c["spark.jvm_heap_peak_mb"] = max(c["spark.jvm_heap_peak_mb"], heap / 2**20)
    return groups
