"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload crawl_deep --seed 7 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` reports the ``end_to_end``
metrics of BENCHMARK.json; ``--trace 1`` turns the Spark event log on and
reports the ``per_layer`` metrics instead. The last stdout line is the
result ``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the raw samples behind the figures. Everything a run writes (corpora,
warehouses, Spark temporary files, the event log) lives under ``.perfbench_run/`` in
the working directory and is deleted before exit, and the Spark JVM and its
Python workers are stopped and waited for.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_deep", "ops_batch")


# -- the process tree (peak PSS, clean shutdown) ----------------------------


def descendants(pid: int) -> list[int]:
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parents[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parents.items() if p == frontier[-1]]
        frontier.pop()
        out += kids
        frontier += kids
    return out


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024 / 1e6  # kB
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


class PeakPss(threading.Thread):
    """Samples the summed PSS of this process and all its descendants (the
    Spark JVM and its Python workers) and keeps the peak. PSS, not RSS: the
    Python workers are forked from one daemon and share most of their pages,
    which RSS would count once per worker."""

    def __init__(self, period_s: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_mb = 0.0
        self._done = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._done.is_set():
            mb = sum(_pss_mb(p) for p in [me, *descendants(me)])
            self.peak_mb = max(self.peak_mb, mb)
            self._done.wait(self.period_s)

    def stop(self) -> float:
        self._done.set()
        if self.is_alive():
            self.join()
        return self.peak_mb


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# -- Spark lifecycle ---------------------------------------------------------


def start_spark(rundir: str, nproc: int, trace: bool):
    from ethos_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(rundir, "local"),
        "spark.sql.warehouse.dir": os.path.join(rundir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={rundir}/tmp",
    }
    if trace:
        log_dir = os.path.join(rundir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits on stdin EOF), then
    wait for every process this run started."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    _wait_gone(kids, 30)


def session_counters(spark) -> dict[str, int]:
    """Long-lived-session leak counters: cached relations pinned in the JVM
    and live Python threads other than the PSS sampler."""
    return {
        "session.cached_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "session.threads": threading.active_count() - 1,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(root, "ethos_spark")) and os.path.isfile(spec_path)):
        print("perfbench: run from the repository root", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path[:0] = [root, HERE]

    base = os.path.join(root, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.makedirs(os.path.join(rundir, "tmp"))
    # Arrow workers import ethos_spark through PYTHONPATH; the engine's
    # temporary stores and Spark's block files follow TMPDIR / SPARK_LOCAL_DIRS
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(rundir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "local")
    tempfile.tempdir = None
    nproc = len(os.sched_getaffinity(0))

    pss = PeakPss()
    pss.start()
    spark = None
    try:
        # imports are not thread-safe: load pyspark before the prepare thread
        import ethos_spark.session  # noqa: F401
        from harness import Ctx, EventLog

        workload = importlib.import_module(args.workload)
        # the workload makes its driver-side inputs while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(workload.prepare, args.seed, rundir)
            spark = start_spark(rundir, nproc, bool(args.trace))
            inputs = inputs.result()
        ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace), rundir, nproc, T_START)
        out = workload.run(ctx, inputs)
        counters = session_counters(spark)
        stop_spark(spark)
        spark = None
        peak_mb = pss.stop()
        if args.trace:
            events = EventLog(os.path.join(rundir, "eventlog"))
            values = {**counters, **out.layers(events), "trace.op_p50_ms": out.op_p50_ms}
            wanted = spec["per_layer"]
        else:
            values = {
                "throughput_per_s": out.throughput_per_s,
                "op_p50_ms": out.op_p50_ms,
                "peak_pss_mb": peak_mb,
                "setup_s": ctx.setup_s,
            }
            wanted = spec["end_to_end"]
    finally:
        if spark is not None:
            stop_spark(spark)
        pss.stop()
        shutil.rmtree(rundir, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)

    # a layer the workload does not run reports 0 (e.g. ops.* on crawl_deep)
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(
        json.dumps(
            {"workload": args.workload, "seed": args.seed, "trace": args.trace}
            | {"setup_s": ctx.setup_s, "peak_pss_mb": peak_mb, "errors": out.errors[:20]}
            | counters
            | out.detail
        )
    )
    print(
        json.dumps(
            {
                "correct": not out.errors,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
