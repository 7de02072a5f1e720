"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the repository root. Everything the run writes stays under
``.perfbench/`` there (inputs, silver store, Spark scratch, event log);
the work directory of a run is removed at the end, and a summary with
every metric plus ambient telemetry is kept as
``.perfbench/last-<workload>.json``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a separately traced run. ``--smoke`` shrinks every
size so a run takes seconds of work instead of a minute. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from metrics import E2E_UNITS, LAYER_UNITS  # noqa: E402

RUN_LIMIT_S = 170  # hard stop below the 180 s a run may take


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) ticks of the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def load1() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def ambient(before: dict | None = None) -> dict:
    now = {"ticks": cpu_ticks(), "load1": load1()}
    if before is None:
        return now
    t0, t1 = before["ticks"], now["ticks"]
    steal = None
    if t0 and t1 and t1[1] > t0[1]:
        steal = round(100.0 * (t1[0] - t0[0]) / (t1[1] - t0[1]), 3)
    return {
        "nproc": os.cpu_count(),
        "steal_pct": steal,
        "load1_before": before["load1"],
        "load1_after": now["load1"],
    }


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, ValueError, IndexError):
        return 0.0


class MemSampler:
    """Memory of this process plus the Spark JVM, for the per-layer
    ``mem.*`` metrics. While ``active`` is set, every 50 ms: the peak of
    their resident memory and of the heap the JVM has committed; at the
    end, the heap the program still holds after full collections."""

    def __init__(self, spark, jvm_pid: int):
        self.pids = [os.getpid(), jvm_pid]
        self.memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.peak_rss = self.peak_committed = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(0.05):
            if self.active.is_set():
                self.peak_rss = max(self.peak_rss, sum(rss_mb(p) for p in self.pids))
                committed = self.memory.getHeapMemoryUsage().getCommitted() / 2**20
                self.peak_committed = max(self.peak_committed, committed)

    def live_heap_mb(self) -> float:
        """Heap used after full collections, repeated until it stops
        falling: Spark frees broadcast and shuffle blocks only after a
        collection has released their driver-side handles."""
        used = float("inf")
        for _ in range(5):
            self.memory.gc()
            time.sleep(0.5)
            now = self.memory.getHeapMemoryUsage().getUsed() / 2**20
            if now > used - 1:
                return min(now, used)
            used = now
        return used

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sizes for a quick self-test")
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    """The program's own tuned session, with scratch space inside the
    checkout; the event log only in the traced run."""
    from django_indexer_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        conf.update(tracing.event_log_conf(f"{work}/eventlog"))
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone; the process wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "django_indexer_spark", "streaming", "pipeline.py")):
        print("perfbench: run from the repository root (django_indexer_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            # Spark's Python workers import the program (mapInPandas / UDF paths)
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            "TMPDIR": f"{work}/tmp",
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_GRAFT_LOCAL_DIR": f"{work}/local",
            "PYSPARK_PYTHON": sys.executable,
            # every JVM, spark-submit's launcher included: scratch inside
            # the work directory, no perf-data files in the system tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        }
    )
    watchdog = threading.Timer(RUN_LIMIT_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()

    import ingest
    import serve

    workload = {"ingest": ingest, "serve": serve}[args.workload]
    amb0 = ambient()
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    from pyspark import SparkContext

    sampler = MemSampler(spark, SparkContext._gateway.proc.pid)
    tracer = tracing.Tracer(bool(args.trace), spark)
    try:
        res = workload.run(
            spark, work, args.seed, args.seconds, tracer, sampler, smoke=args.smoke
        )
        if args.trace:
            res.layers["mem.live_heap_mb"] = sampler.live_heap_mb()
    finally:
        sampler.close()
        stop_spark(spark)
    res.e2e["setup_s"] = session_s + res.setup_s
    res.layers.update(
        {
            "session.start_s": session_s,
            "mem.peak_rss_mb": sampler.peak_rss,
            "mem.heap_committed_mb": sampler.peak_committed,
        }
    )
    if args.trace:
        sm = tracing.spark_task_metrics(f"{work}/eventlog", tracer.job_groups())
        res.layers.update({k: v for k, v in sm.items() if k.startswith("spark.")})
        jobs = sum(v for k, v in sm.items() if k.startswith("jobs."))
        records = sum(v for k, v in sm.items() if k.startswith("records."))
        if res.layers.get("batches"):
            res.layers["pipeline.jobs_per_batch"] = jobs / res.layers["batches"]
        if res.layers.get("rows_returned"):
            res.layers["endpoints.rows_scanned_per_row"] = records / res.layers["rows_returned"]
        tracer.dump(os.path.join(base, f"spans-{args.workload}.jsonl"))

    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "e2e": res.e2e,
        "layers": res.layers,
        "attempted": res.attempted,
        "failed": res.failed,
        "failures": res.failures[:20],
        "self_ms": tracer.self_ms(),
        "ambient": ambient(amb0),
    }
    with open(os.path.join(base, f"last-{args.workload}.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    units = LAYER_UNITS if args.trace else E2E_UNITS
    values = res.layers if args.trace else res.e2e
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
