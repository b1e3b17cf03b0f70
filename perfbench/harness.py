"""What a workload module works with: its context and outcome, spans
recorded around calls into the engine's layers, and the Spark event log
folded onto those spans.

A span is ``(name, start_ms, end_ms)`` on the wall clock, the same clock the
JVM stamps its events with, so a Spark job belongs to every span whose
interval holds the job's submission time. Nothing here edits the engine:
spans come from wrapping public functions or injected instances
(``Spans.wrap``), and the Spark work inside them from the event log that
``spark.eventLog.enabled`` writes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

# task accumulables Spark 4 reports for Arrow/pandas UDF operators
PY_RUN = "time to run Python workers"  # ms
PY_START = "time to start Python workers"  # ms
PY_IN = "data sent to Python workers"  # bytes
PY_OUT = "data returned from Python workers"  # bytes
_PY_KEYS = (PY_RUN, PY_START, PY_IN, PY_OUT)


def now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Ctx:
    """What a workload's ``run(ctx, inputs)`` gets, besides the inputs its
    ``prepare(seed, rundir)`` made: the session, its seed and time budget,
    and whether this is the traced run. A workload calls ``measure_start()``
    once, when set-up (inputs, warm-up to the plateau, expected outputs) is
    done; ``setup_s`` counts from ``t_start``, the process start."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    rundir: str
    nproc: int
    t_start: float
    setup_s: float = 0.0

    def measure_start(self) -> None:
        self.setup_s = time.monotonic() - self.t_start


@dataclass
class Outcome:
    """A workload's result. ``errors`` lists every failed output check;
    ``layers`` maps the folded event log to per-layer metrics (traced run
    only)."""

    throughput_per_s: float
    op_p50_ms: float
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layers: Callable[["EventLog"], dict[str, float]] | None = None


class Spans:
    """Named wall-clock intervals, kept in memory until the run ends."""

    def __init__(self) -> None:
        self.rows: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        t0 = now_ms()
        try:
            yield
        finally:
            self.rows.append((name, t0, now_ms()))

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` by a wrapper that records one span per call.
        On an instance the wrapper shadows the class method, so the engine's
        own ``self.attr(...)`` calls go through it too."""
        fn = getattr(obj, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, wrapped)

    def of(self, name: str) -> list[tuple[float, float]]:
        return [(t0, t1) for n, t0, t1 in self.rows if n == name]

    def total_s(self, name: str) -> float:
        return sum(t1 - t0 for t0, t1 in self.of(name)) / 1000.0

    def median_s(self, name: str) -> float:
        walls = [t1 - t0 for t0, t1 in self.of(name)]
        return statistics.median(walls) / 1000.0 if walls else 0.0


@dataclass
class _Job:
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_w: float = 0.0
    py: dict = field(default_factory=lambda: dict.fromkeys(_PY_KEYS, 0.0))


class EventLog:
    """Jobs and their task totals, read from an uncompressed event log dir."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, _Job] = {}
        stage_job: dict[int, int] = {}
        task_ends = []
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
                continue
            with open(path, encoding="utf-8", errors="replace") as fh:
                for line in fh:
                    if not line.startswith('{"Event":"SparkListener'):
                        continue
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        job = _Job(ev["Submission Time"], stages=ev["Stage IDs"])
                        self.jobs[ev["Job ID"]] = job
                        for s in job.stages:
                            stage_job[s] = ev["Job ID"]
                    elif kind == "SparkListenerJobEnd":
                        self.jobs[ev["Job ID"]].end = ev["Completion Time"]
                    elif kind == "SparkListenerTaskEnd":
                        task_ends.append(ev)
        for ev in task_ends:
            job = self.jobs.get(stage_job.get(ev["Stage ID"], -1))
            metrics = ev.get("Task Metrics")
            if job is None or metrics is None:
                continue
            job.tasks += 1
            job.run_ms += metrics["Executor Run Time"]
            job.gc_ms += metrics["JVM GC Time"]
            job.shuffle_w += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get("Name") in job.py:
                    job.py[acc["Name"]] += float(acc.get("Update") or 0)
        for job in self.jobs.values():
            job.end = job.end or job.submit

    def jobs_in(self, windows: list[tuple[float, float]]) -> list[_Job]:
        return [
            j for j in self.jobs.values() if any(t0 <= j.submit <= t1 for t0, t1 in windows)
        ]

    def busy_ms(self, windows: list[tuple[float, float]]) -> float:
        """Wall time inside ``windows`` during which at least one job ran."""
        busy = 0.0
        for t0, t1 in windows:
            ivs = sorted(
                (max(j.submit, t0), min(j.end, t1))
                for j in self.jobs.values()
                if j.end > t0 and j.submit < t1
            )
            cur0 = cur1 = None
            for a, b in ivs:
                if cur1 is None or a > cur1:
                    if cur1 is not None:
                        busy += cur1 - cur0
                    cur0, cur1 = a, b
                else:
                    cur1 = max(cur1, b)
            if cur1 is not None:
                busy += cur1 - cur0
        return busy

    def fold(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """The ``spark.*`` totals of the jobs submitted inside ``windows``."""
        jobs = self.jobs_in(windows)
        wall = sum(t1 - t0 for t0, t1 in windows)
        gap = wall - self.busy_ms(windows)
        run = sum(j.run_ms for j in jobs)
        py = {k: sum(j.py[k] for j in jobs) for k in _PY_KEYS}
        return {
            "jobs": len(jobs),
            "tasks": sum(j.tasks for j in jobs),
            "executor_run_s": run / 1000.0,
            "gc_s": sum(j.gc_ms for j in jobs) / 1000.0,
            "shuffle_write_mb": sum(j.shuffle_w for j in jobs) / 1e6,
            "driver_gap_s": gap / 1000.0,
            "driver_gap_share": gap / wall if wall else 0.0,
            "python_run_s": py[PY_RUN] / 1000.0,
            "python_start_s": py[PY_START] / 1000.0,
            "python_bytes_in_mb": py[PY_IN] / 1e6,
            "python_bytes_out_mb": py[PY_OUT] / 1e6,
            # share of executor task time spent inside Python workers
            "python_share": py[PY_RUN] / run if run else 0.0,
        }
