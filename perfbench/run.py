"""crawlspark benchmark: one workload per run, at local[<cores>].

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload polite_hosts --seed 1 \
        --seconds 12 --trace 0

Workloads, metrics and which layer metric should move which end-to-end
metric are described in perfbench/README.md and named in
BENCHMARK.json.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the crawl rounds are split into phases and the per-layer metrics are
printed instead. The line before it is the full record of the run
(host, session, set-up times, step percentiles, problems), also
written to ``perfbench/out/<run>/result.json`` beside the Spark log
``spark-stderr.log``. The exit code is 0 only when every correctness
check passed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name → unit; the per-workload meaning is in README.md
END_TO_END = {
    "throughput_per_s": "1/s",
    "step_geomean_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in BENCHMARK.json order."""
    from perfbench.phases import PHASE_STATS, PHASES
    from perfbench.workloads import CRAWL_LAYER, SWEEP_QUERIES

    units = {f"{p}.{k}": u for p in PHASES for k, u in PHASE_STATS}
    units.update(CRAWL_LAYER)
    units.update({f"query.{q}.s": "s" for q in SWEEP_QUERIES})
    units.update({"error_ratio": "ratio", "log_error_lines": "count"})
    return units


def _process_tree(root: int) -> dict[int, int]:
    """Resident bytes of a process and of each of its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    parent, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed /proc
        parent[int(d)] = int(fields[1])
        rss[int(d)] = int(fields[21]) * page
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo += [c for c, p in parent.items() if p == pid]
    return tree


def _running(pid: int) -> bool:
    """True while the process exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class PeakRss:
    """Samples the resident memory of this process tree (driver JVM and
    Python workers included) every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            tree = _process_tree(os.getpid())
            self.peak = max(self.peak, sum(tree.values()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _session(work: str, cores: int, traced: bool):
    """A session fitted to the host: one task slot per core, a driver
    heap of an eighth of physical memory, the checkout on the Python
    workers' path, and all scratch space inside the run directory."""
    from scrapy_rs_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if traced:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    return build_session(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )


def _stop_session(spark) -> None:
    """Stop Spark, then wait until the driver JVM and every process it
    started (the Python workers end when the JVM does) have exited."""
    from pyspark import SparkContext

    started = set(_process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(_running(pid) for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes still running after stop")
        time.sleep(0.1)


def _geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def _step_tail(steps: list[float]) -> dict:
    """The highest percentile with at least 10 steps beyond it, or
    None when a run has fewer than 11 steps."""
    n = len(steps)
    if n < 11:
        return {"n": n, "percentile": None, "value_s": None}
    pct = int(100 * (n - 10) / n)
    value = statistics.quantiles(steps, n=100, method="inclusive")[pct - 1]
    return {"n": n, "percentile": pct, "value_s": value}


def run(args) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns the result line
    and the full record."""
    import bench
    from perfbench.workloads import WORKLOADS, timed

    work = args.work
    workload = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    heap_mb = max(1024, _host_memory_mb() // 8)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    host = {
        "cores": cores,
        "driver_heap_mb": heap_mb,
        **bench._host_calibration(),
    }
    steal0, total0 = bench._cpu_ticks()

    session_s, spark = timed(lambda: _session(work, cores, args.trace))
    try:
        builds = workload.setup(spark, args.seed, work)
        with PeakRss() as rss:
            out = workload.measure(spark, args.seconds, bool(args.trace))
        problems = workload.check(spark)
    finally:
        _stop_session(spark)

    steal1, total1 = bench._cpu_ticks()
    host["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    with open(os.path.join(work, "spark-stderr.log"), errors="replace") as f:
        log_errors = sum(" ERROR " in line for line in f)
    if out.failed:
        problems.append(f"{out.failed} of {out.attempted} operations failed")

    setup_s = session_s + statistics.median(builds) + out.warm_s
    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update(out.layers)
        values["error_ratio"] = out.failed / out.attempted
        values["log_error_lines"] = log_errors
    else:
        units = END_TO_END
        values = {
            "throughput_per_s": out.work / out.wall,
            "step_geomean_s": _geomean(out.steps),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / 1e6,
        }
    line = {
        "correct": not problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            k: {"value": values[k], "unit": units[k]} for k in units
        },
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "setup": {
            "session_s": session_s,
            "build_s": builds,
            "warm_s": out.warm_s,
        },
        "steps": {
            "s": out.steps,
            "p50_s": statistics.median(out.steps),
            "tail": _step_tail(out.steps),
        },
        "log_error_lines": log_errors,
        "problems": problems,
        **out.details,
    }
    return line, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "scrapy_rs_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(
            "perfbench: no crawlspark checkout around perfbench/ "
            "(scrapy_rs_spark/ and __spark_entry__.py are missing)",
            file=sys.stderr,
        )
        return 2

    args.work = os.path.join(
        HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    shutil.rmtree(args.work, ignore_errors=True)
    tmp = os.path.join(args.work, "tmp")
    os.makedirs(tmp)
    # everything the run and its children write stays in the run dir;
    # UDF workers import the package from the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(args.work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}", file=sys.stderr
        )
        return 2

    # Spark's log (JVM and Python workers inherit fd 2) goes to a file;
    # ERROR lines are counted from it, WARN floods stay out of the output
    err = os.dup(2)
    with open(os.path.join(args.work, "spark-stderr.log"), "w") as log:
        os.dup2(log.fileno(), 2)
    try:
        line, record = run(args)
    finally:
        sys.stderr.flush()
        os.dup2(err, 2)
        os.close(err)

    for d in os.listdir(args.work):
        if d != "spark-stderr.log":
            shutil.rmtree(os.path.join(args.work, d), ignore_errors=True)
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump({**record, "result": line}, f, indent=1)
    if record["problems"]:
        for p in record["problems"]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
