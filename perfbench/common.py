"""Shared plumbing for the benchmark: host checks, the per-run work
directory, the Spark session, process-tree memory, percentiles and spans.

Everything a run writes goes under ``<checkout>/.bench_work/<run>/`` and is
deleted when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Files of the program under test that every workload needs.  Checked
# before anything else so a run outside a full checkout fails fast.
REQUIRED = ("halyard_spark/__init__.py", "__spark_entry__.py", "tests/golden.py")


class BenchError(Exception):
    """A run that cannot produce a trustworthy result."""


def require_program() -> None:
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise BenchError(f"program files missing from {ROOT}: {', '.join(missing)}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise BenchError("MemTotal not found in /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of MemTotal: the driver JVM holds every executor in local
    mode, and a heap sized past physical memory aborts when G1 grows."""
    return max(1024, mem_total_mb() // 4)


def check_width(cpus: int) -> int:
    """Refuse a ``local[N]`` wider than the cores this process may use."""
    n = nproc()
    if cpus < 1 or cpus > n:
        raise BenchError(f"refusing local[{cpus}]: this host gives the process {n} cores")
    return cpus


def host_descriptor(cpus: int, java_version: str | None) -> dict:
    try:
        import pyspark

        pyspark_version = pyspark.__version__
    except ImportError:
        pyspark_version = None
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "master": f"local[{cpus}]",
        "driver_memory_mb": driver_memory_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark_version,
        "java": java_version,
    }


# ---------------------------------------------------------------------------
# work directory and environment
# ---------------------------------------------------------------------------

class WorkDir:
    """Per-run scratch tree inside the checkout; removed on close."""

    def __init__(self, tag: str):
        self.path = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))

    @classmethod
    def attach(cls, path: str) -> "WorkDir":
        """The work directory a parent process made, seen from a child."""
        work = cls.__new__(cls)
        work.path = path
        return work

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def isolate_env(work: WorkDir) -> None:
    """Keep every temporary file inside the work directory and drop the
    package's tuning knobs, so a run depends only on its arguments."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["TMPDIR"] = work.sub("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    # spark-submit's launcher JVM would write /tmp/hsperfdata_* otherwise
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None


def spark_conf(work: WorkDir, trace: bool) -> dict[str, str]:
    tmp = work.sub("tmp")
    conf = {
        "spark.local.dir": work.sub("spark-local"),
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        # -Xms pins the heap at spark.driver.memory from the start, so peak
        # RSS does not swing with the collector's heap-growth decisions;
        # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_memory_mb()}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": work.sub("eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(work: WorkDir, cpus: int, trace: bool, app: str):
    from halyard_spark import session

    # get_spark creates its default local dir (/dev/shm/spark-local) before
    # the conf override applies; point it inside the work directory
    session._local_dir = lambda: work.sub("spark-local")
    spark = session.get_spark(
        cpus=check_width(cpus),
        app_name=app,
        driver_memory=f"{driver_memory_mb()}m",
        extra_conf=spark_conf(work, trace),
    )
    master = spark.sparkContext.master
    if master != f"local[{cpus}]":
        raise BenchError(f"session came up as {master}, expected local[{cpus}]")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait until every process the run
    started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_for_descendants()


def _live_descendants(root: int) -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def wait_for_descendants(timeout: float = 30.0) -> None:
    import signal

    deadline = time.time() + timeout
    while (pids := _live_descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.1)
    for pid in pids:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    while _live_descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.1)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others since boot, all cores: a run
    whose figures stray can be checked against the host's contention."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def java_version(spark) -> str:
    return str(spark.sparkContext._jvm.java.lang.System.getProperty("java.version"))


def event_log_file(work: WorkDir) -> str:
    files = [f for f in os.listdir(work.sub("eventlog")) if not f.startswith(".")]
    if len(files) != 1:
        raise BenchError(f"expected one event log, found {files}")
    return work.sub("eventlog", files[0])


# ---------------------------------------------------------------------------
# memory of the whole process tree
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int | None = None) -> dict[int, int]:
    """RSS of ``root`` (default: this process) and each of its descendants.
    A child caught between ``vfork`` and ``exec`` (the JVM spawning a Python
    worker) shares its parent's memory and shows the parent's command and
    RSS; it is counted once, as the parent."""
    kids = _children()
    out, stack = {}, [(root or os.getpid(), None)]
    while stack:
        pid, parent = stack.pop()
        rss = _rss_kb(pid)
        if parent is None or rss != out.get(parent) or _command(pid) != _command(parent):
            out[pid] = rss
        stack.extend((kid, pid) for kid in kids.get(pid, ()))
    return out


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline") as f:
            return f.read().replace("\0", " ")[:60]
    except OSError:
        return "?"


class PeakRss:
    """Samples the RSS of this process and all its descendants (the JVM,
    Python workers, a serving child) and keeps the peak of their sum, with
    the largest processes at that moment."""

    def __init__(self, interval: float = 0.1):
        self.peak_mb = 0.0
        self.at_peak: list[tuple[str, float]] = []
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_kb()
        total = sum(rss.values()) / 1024
        if total > self.peak_mb:
            self.peak_mb = total
            top = sorted(rss.items(), key=lambda kv: -kv[1])[:5]
            self.at_peak = [(_command(pid), kb / 1024) for pid, kb in top]

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def nearest_rank_index(n: int, q: float) -> int:
    """1-based rank of the q-th percentile among n samples: ceil(q/100 * n),
    computed in integers so 90% of 100 is rank 90, not 91."""
    return min(max(1, -(-int(round(q * n * 1000)) // 100000)), n)


def nearest_rank(sorted_vals: list[float], q: float) -> float:
    """The q-th percentile by nearest rank: the smallest sample with at
    least q% of the samples at or below it."""
    return sorted_vals[nearest_rank_index(len(sorted_vals), q) - 1]


def latency_summary(samples: list[float]) -> dict:
    """Median plus the highest ladder percentile with at least ten samples
    beyond it, with the sample count.  ``tail_pct`` is None when fewer than
    ten samples lie beyond even the lowest ladder step."""
    vals = sorted(samples)
    n = len(vals)
    out = {"n": n, "p50": nearest_rank(vals, 50.0) if n else None, "tail_pct": None, "tail": None}
    for q in TAIL_LADDER:
        if n - nearest_rank_index(n, q) >= 10:
            out["tail_pct"], out["tail"] = q, nearest_rank(vals, q)
            break
    return out


def median(vals: list[float]) -> float:
    return statistics.median(vals)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans recorded from the benchmark's own code around calls into the
    program.  With a SparkContext each span also names the Spark job group,
    so the event log ties jobs back to it; a name may be entered many times
    and its figures add up.  Times are epoch milliseconds, the event log's
    clock."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time() * 1000.0, "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000.0
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)


def wall_s(t0: float) -> float:
    return time.perf_counter() - t0
