"""Host sizing, the Spark session, timing statistics and driver spans.

Everything the workloads share lives here: the session is sized from the
host (``local[N]`` from ``SPARK_GRAFT_CPUS`` or the CPU count, driver
memory from physical RAM), every scratch path Spark or Python would
otherwise put under ``/tmp`` is pointed into the run's work directory,
and the Spark JVM is stopped and waited for before the process exits.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import statistics
import subprocess
import threading
import time


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


def host_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if env.isdigit() and int(env) > 0:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_ram_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def driver_memory_mb() -> int:
    """A quarter of physical RAM, between 1 and 4 GiB: the machine is
    shared, and the workloads' inputs are tens of MB."""
    return max(1024, min(4096, host_ram_bytes() // 4 // 2**20))


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (out.stderr or out.stdout).strip().splitlines()
    return lines[0] if lines else "unknown"


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave other guests between two
    ``cpu_times`` readings: co-tenant noise the timings cannot remove."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def host_info(seed: int) -> dict:
    import pyspark

    return {"nproc": host_cpus(), "ram_gib": round(host_ram_bytes() / 2**30, 1),
            "driver_memory_mb": driver_memory_mb(),
            "pyspark": pyspark.__version__, "java": java_version(),
            "seed": seed}


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def scratch_env(work: str) -> None:
    """Point Python's and Spark's scratch space into ``work`` (must run
    before the JVM starts: Spark reads SPARK_LOCAL_DIRS at launch)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, event_log_dir: str | None = None):
    """A ``local[nproc]`` session whose every scratch path is under
    ``work``.  ``event_log_dir`` turns on Spark's uncompressed event
    log there (the UI stays off; the log does not need it)."""
    from pyspark.sql import SparkSession

    cpus = host_cpus()
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{driver_memory_mb()}m")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.default.parallelism", str(cpus))
         .config("spark.sql.adaptive.enabled", "true")
         # the generated inputs are a few MB of 25k-row row groups: small
         # splits spread the scan over every core
         .config("spark.sql.files.maxPartitionBytes", "512k")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         # a fixed-size heap: no heap growth drifting the first ops' times
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{driver_memory_mb()}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                 f" -Dderby.system.home={os.path.join(work, 'derby')}"))
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", "file://" + event_log_dir))
    else:
        b = b.config("spark.eventLog.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the JVM gateway process, and wait
    for it (PySpark otherwise leaves the JVM to notice its closed stdin
    after the interpreter exits)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# statistics and disk usage
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic with at least
    ten samples beyond it: the 11th-largest sample, at percentile
    100*(n-10)/n.  Fewer than eleven samples have none; the maximum is
    returned with percentile 100."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    s = sorted(xs)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], round(100.0 * (n - 10) / n, 1)


def du(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; 0s when it does not exist."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            with contextlib.suppress(FileNotFoundError):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return files, size


# ---------------------------------------------------------------------------
# driver spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory driver spans: (id, name, start, end, parent id, op).

    ``patch`` wraps a public function or method of the program for the
    tracer's lifetime; spans opened on a thread nest under the span that
    thread has open, and every span carries the op id current when it
    opened (the loop has one client, so the op id is global).  Spans
    around lazy DataFrame builders cover driver plan building only.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name, "start": time.time(),
               "end": None, "parent": stack[-1]["id"] if stack else None,
               "op": self.op}
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        if not self.enabled:
            return
        orig = owner.__dict__[attr]
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def total(self, name: str, op: int | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and (op is None or s["op"] == op))

    def count(self, name: str, op: int | None = None) -> int:
        return sum(1 for s in self.spans
                   if s["name"] == name and (op is None or s["op"] == op))
