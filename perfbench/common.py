"""Shared helpers: environment, Spark start, percentiles, memory sampling
and the benchmark's own span tracer. Nothing here reaches into the
engine's internals; the engine is called only through its public
functions."""

from __future__ import annotations

import gc
import math
import os
import platform
import shlex
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


# -- percentiles ---------------------------------------------------------

def tail_percentile(n: int) -> float | None:
    """The highest of ``PERCENTILES`` that has at least ``MIN_BEYOND``
    samples above it in a sample of ``n``; None when even the median has
    fewer."""
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[max(math.ceil(p / 100.0 * len(s)) - 1, 0)]


def median(values) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of an empty sample")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


# -- environment ---------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def env_stamp(seed: int, master: str) -> dict:
    import pyspark
    return {"nproc": nproc(), "master": master, "seed": seed,
            "load1": os.getloadavg()[0], "pyspark": pyspark.__version__,
            "java": java_version(), "python": platform.python_version()}


def cpu_probe_ms() -> float:
    """Milliseconds for a fixed single-threaded Python loop: a note of how
    fast the machine ran, to tell drift in the machine from drift in the
    program when comparing runs. No metric is scaled by it."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t) * 1e3


def start_spark(tmp: str, n: int):
    """The engine's own session factory at ``local[n]``, with every
    scratch directory Spark and its Python workers use kept under
    ``tmp``. Returns ``(spark, master)``."""
    for sub in ("local", "java", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "java")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: no JVM writes its perf-data file to the system
    # temp directory, outside the run's own directory
    java_tmp = (f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} "
                "-XX:-UsePerfData")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        # the heap sized once, at its 2g maximum (SPARK_GRAFT_DRIVER_MEM),
        # so the collector's heap-growth heuristics do not vary from run
        # to run; pages are still touched only as the program uses them
        "spark.driver.extraJavaOptions": f"{java_tmp} -Xms2g",
        "spark.executor.extraJavaOptions": java_tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # the status store must keep every job of a run for the
        # failed-task accounting
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from dexscraper_spark.session import get_spark
    master = f"local[{n}]"
    spark = get_spark("perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, master


# -- memory --------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


class MemSampler:
    """The memory the program holds while it works, in three parts.

    ``python_mb``: the peak summed proportional set size (PSS) of this
    process and its descendants other than the JVM, sampled until
    ``finish``: the Python driver and the Python workers. PSS splits
    pages shared by forked workers between them, so a forked tree is not
    counted twice over, as summed RSS would. The ids in ``exclude`` are
    skipped with their descendants (the load generator is not part of the
    system under test).

    ``heap_mb`` and ``non_heap_mb``: the JVM's heap in use after a full
    collection (the data the program keeps: cached tables, state stores)
    and its metaspace and code cache, read at ``finish`` from the JVM's
    public memory bean. The JVM's own PSS is not used: the pages its heap
    has touched say more about the collector than about the program."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.heap_mb = self.non_heap_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            if "java" not in _exe(pid):
                total += _pss_kb(pid)
            todo += _children(pid)
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "MemSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def finish(self, spark) -> None:
        """End sampling when the measured work is done, before the
        benchmark's own checks, and read the JVM's figures."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        bean = spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getMemoryMXBean()
        # Python first, so py4j releases the JVM objects that dead Python
        # handles kept alive; then the JVM twice, because Spark's context
        # cleaner frees the blocks of broadcasts and shuffles found dead
        # by the first collection on its own thread, after it
        gc.collect()
        bean.gc()
        time.sleep(1.0)
        bean.gc()
        self.heap_mb = bean.getHeapMemoryUsage().getUsed() / 2**20
        self.non_heap_mb = bean.getNonHeapMemoryUsage().getUsed() / 2**20

    @property
    def python_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def total_mb(self) -> float:
        return self.python_mb + self.heap_mb + self.non_heap_mb


# -- tracing -------------------------------------------------------------

class Tracer:
    """Spans recorded by the benchmark around its calls into each engine
    layer, kept in memory and written out when the run ends. A span is
    ``(id, parent, name, layer, start, end)``; times are ``time.time()``
    seconds so spans rebuilt from Spark's progress reports line up."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._stack: list[int] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append((sid, parent, name, layer, start, end))
        return sid

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, parent, name, layer, t0, time.time())

    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s is not None and s[1] is not None:
                kids.setdefault(s[1], []).append((s[4], s[5]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s is None:
                continue
            covered, cur_end = 0.0, s[4]
            for a, b in sorted(kids.get(s[0], [])):
                a, b = max(a, cur_end), min(b, s[5])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s[3]] = out.get(s[3], 0.0) + (s[5] - s[4]) - covered
        return out

    def calibrate_ms(self, n: int = 20000) -> float:
        """Cost of recording one span, in milliseconds."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe", "probe"):
                pass
        return (time.perf_counter() - t0) * 1e3 / n

    def write(self, path: str) -> None:
        import json
        with open(path, "w") as fh:
            for s in self.spans:
                if s is not None:
                    fh.write(json.dumps(dict(zip(
                        ("id", "parent", "name", "layer", "start", "end"),
                        s))) + "\n")
