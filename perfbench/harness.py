"""Shared benchmark machinery: paths, the Spark session, timing statistics,
peak memory, failure accounting and the result line.

Everything the benchmark writes lives under ``.perfbench/`` at the root of the
checkout it belongs to: inputs, Spark's local/spill dir, the warehouse, temp
files, event logs and the per-run records.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout
WORK = os.path.join(ROOT, ".perfbench")
LOCAL_DIR = os.path.join(WORK, "spark-local")  # the one spill/local dir of every run
TMP_DIR = os.path.join(WORK, "tmp")


def prepare_dirs() -> None:
    """Create the work tree and point every temp-file user at it. Must run
    before pyspark or the engine is imported (tempfile caches its dir).
    Nothing a previous run left (inputs, tables, scratch) carries over."""
    for d in ("data", "warehouse", "tmp", "spark-local", "eventlog"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in (LOCAL_DIR, TMP_DIR, os.path.join(WORK, "runs")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP_DIR
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata, no /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP_DIR}"
    os.environ["SPARK_LOCAL_DIRS"] = LOCAL_DIR
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the engine's own driver-memory default (the executor heap in local mode)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Statistics.
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile: a weighted mean of the
    sorted samples, with weights from the Beta((n+1)p, (n+1)(1-p)) law. The
    suite's 13 queries are unlike one another, so the single middle sample
    jumps between queries from run to run: over the same ten suite runs its
    quartile spread was 0.15 of the median where this estimate's was 0.09,
    no more than that of the pass's whole wall time."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    n, p = len(xs), q / 100.0
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((hi - lo) * x for lo, hi, x in zip(cdf, cdf[1:], xs))


def betainc(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-15:
            break
    return front * f


def beyond(n: int, q: float) -> int:
    """Samples strictly beyond rank ceil(q% of n) of n samples."""
    return n - max(math.ceil(q / 100.0 * n), 1)


MIN_BEYOND = 10  # samples a reported tail percentile needs beyond it


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile that still has ``MIN_BEYOND`` samples
    beyond it, or None when n is too small for any."""
    for q in range(99, 0, -1):
        if beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def median(values) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# Failure accounting.
# ---------------------------------------------------------------------------


class Tally:
    """Operations attempted and failed; a failure is an exception or an
    output that did not verify. ``error_rate`` = failed / attempted."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def check(self, cond: bool, what: str) -> bool:
        if cond:
            self.ok()
        else:
            self.fail(what)
        return cond

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ---------------------------------------------------------------------------
# Memory.
# ---------------------------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (the kernel's high-water mark) of the driver
    process plus the JVM. Python workers come and go with the stages, so
    their memory is left out. The JVM part follows the collector's heap
    growth and read 1.6-2.8 GB across seeds of one workload."""
    from pyspark import SparkContext

    kb = _hwm_kb(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


# ---------------------------------------------------------------------------
# Spark session.
# ---------------------------------------------------------------------------


def start_spark(app: str, cores: int, event_log_dir: str | None = None):
    """A session from the engine's own factory (``session.get_spark``) at
    local[cores], with every file it writes kept under ``.perfbench/``."""
    from pgsql2osm_spark.session import get_spark

    conf = {
        "spark.local.dir": LOCAL_DIR,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log_dir,
        })
    spark = get_spark(app=app, master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active SparkContext and the JVM behind it, and wait for the
    JVM process to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as ex:  # the JVM may already be gone
        print(f"perfbench: gateway shutdown: {ex}", file=sys.stderr)
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Run record and result line.
# ---------------------------------------------------------------------------


def environment(spark, seed: int, cores: int) -> dict:
    return {
        "nproc": cores,
        "seed": seed,
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "local_dir": os.path.relpath(LOCAL_DIR, ROOT),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "platform": platform.platform(),
    }


def emit(record: dict, tally: Tally, metrics: dict[str, tuple[float, str]]) -> None:
    """Write the run record under .perfbench/runs and print the result line
    (the last line of stdout)."""
    record = dict(record, attempted=tally.attempted, failed=tally.failed,
                  error_rate=tally.error_rate, problems=tally.problems[:50],
                  metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()})
    name = f"{record['workload']}-seed{record['env']['seed']}-trace{record['trace']}-{int(time.time())}.json"
    with open(os.path.join(WORK, "runs", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("perfbench-record " + json.dumps({k: v for k, v in record.items() if k != "metrics"},
                                           default=str), flush=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": record["metrics"],
    }), flush=True)
