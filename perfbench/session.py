"""Spark session lifetime for the benchmark: where its files go, the
cold set-up that ``setup_s`` times, the no-caching guard between passes, peak
memory of the process tree, and a shutdown that waits for every process."""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import threading
import time
from pathlib import Path

# ── process tree: memory sampling and clean shutdown ────────────────────────


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_snapshot() -> tuple[float, int, int]:
    """CPU seconds used so far by this process and its descendants (the
    children they reaped included), and the machine's stolen and total CPU
    ticks from /proc/stat. On a shared host, steal inflates wall time
    but not the CPU time charged to the process tree."""
    me = os.getpid()
    ticks = 0
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    with open("/proc/stat") as f:
        machine = [int(x) for x in f.readline().split()[1:9]]
    return ticks / _TICK, machine[7], sum(machine)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period, self.peak, self._halt = period, 0, threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.wait(self.period):
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway, then wait until every process
    this benchmark started has ended. Python workers are the JVM's
    grandchildren and are re-parented when it exits, so they are tracked
    by pid from before the shutdown."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while [p for p in started if _alive(p)] and time.time() < deadline:
        time.sleep(0.2)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while [p for p in started if _alive(p)] and time.time() < deadline + 10:
        time.sleep(0.1)


def prepare_env(work: Path, cache: Path, trace: bool) -> None:
    """Keep every file Spark, the JVM and the native build write inside
    the checkout, and one thread per Python worker."""
    tmp = work / "tmp"
    for d in (tmp, work / "local", cache / "tmp", work / "events"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(cache / "tmp")  # the native .so cache lives here
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'events'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def setup_session(cores: int) -> tuple[object, float]:
    """One cold ``get_spark`` at local[cores], as a submitted job pays it:
    the JVM start, the session, the driver's native library load and the
    Python-worker warm-up. Returns the session and the set-up time."""
    from azure_workflow_for_kml_satellite_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def assert_nothing_cached(spark) -> None:
    """Drop the pipeline memo and Spark's cache, then fail the run if any
    cached data or persisted RDD is left (no result caching across
    passes)."""
    from azure_workflow_for_kml_satellite_spark import pipeline

    pipeline.evict_memo()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    cm = spark._jsparkSession.sharedState().cacheManager()
    if not cm.isEmpty() or not jsc.getPersistentRDDs().isEmpty():
        raise RuntimeError("cached data survived between passes")
