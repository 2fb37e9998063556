"""Process-level plumbing shared by the workloads: the run's working
directory, the Spark session, the latency statistics, peak RSS of the
process tree, and shutting every started process down."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Tail percentiles tried from the top; the first with >= TAIL_MIN_BEYOND
# samples above it is reported.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def tail(values) -> tuple[float, str]:
    """(value, label) of the highest percentile that has at least
    TAIL_MIN_BEYOND samples beyond it; with too few samples for any
    ladder percentile, the maximum, labelled 'max'."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND:
            return percentile(values, p), f"p{p:g}"
    return float(max(values)), "max"


def summary(values) -> dict:
    """Sample count, median, tail and total of one latency population."""
    if not values:
        return {"n": 0}
    t, label = tail(values)
    return {
        "n": len(values), "p50": statistics.median(values), "tail": t, "tail_pct": label,
        "total": float(sum(values)),
    }


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


class Workdir:
    """A fresh per-run directory inside the checkout; removed at exit."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(ROOT, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        """A file path under the run directory; its parent exists."""
        p = os.path.join(self.path, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the run directory, created."""
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass


def configure_env(work: Workdir) -> None:
    """Keep every file the run writes inside the checkout, and pin the
    core count and time zone the engine sees."""
    tmp = work.dir("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.dir("spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["TZ"] = "UTC"
    time.tzset()
    # hsperfdata and java.io.tmpdir default to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: Workdir, trace: bool):
    """The engine's own session factory; the traced run adds only the
    event log."""
    from persistor_spark.session import build_session

    extra = {"spark.sql.warehouse.dir": work.dir("warehouse")}
    if trace:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + work.dir("eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = build_session("perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total * (os.sysconf("SC_PAGE_SIZE") // 1024)


class RssMonitor:
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval_s)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0
