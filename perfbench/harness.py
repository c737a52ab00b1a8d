"""Run environment shared by every workload: work directory, engine
session, repeated set-up, memory sampling, provenance and statistics.

Everything the benchmark writes stays under ``<checkout>/.perfbench``:
input tables, landing and spool directories, checkpoints, Spark local
dirs, temp files, traces and result records.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_time_fraud_detection_system_using_big_data_analytics_spark"
STATE_DIR = os.path.join(ROOT, ".perfbench")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A driver heap that fits the host: a sixth of RAM, at most 4 GiB
    (the engine's own default asks for 48g)."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(512, min(4096, total_kb // 1024 // 6))}m"


class Workdir:
    """A per-run work tree under ``.perfbench``; removed on close.
    Traces and result records go to ``.perfbench/results`` and are kept."""

    def __init__(self, workload: str, seed: int) -> None:
        self.path = os.path.join(STATE_DIR, f"run-{workload}-{seed}-{os.getpid()}")
        self.results = os.path.join(STATE_DIR, "results")
        for d in (self.path, self.results, self.sub("tmp"), self.sub("spark-local")):
            os.makedirs(d, exist_ok=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_environment(work: Workdir) -> None:
    """Point the engine, its JVM and its Python workers at the checkout:
    workers import the engine package from ROOT, temp files and Spark
    local dirs live in the work tree, and the driver heap fits the host.
    Must run before the first session starts its JVM."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host_cpus()))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def source_digest() -> str:
    """sha1 over the engine package's source files: identifies the code
    measured when the checkout carries no git metadata."""
    h = hashlib.sha1()
    base = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, base).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def host_calibration_s() -> float:
    """Seconds for a fixed pure-Python loop: a probe of how fast this host
    ran at the time, for reading a run against its peers."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def provenance(spark, workload: str, seed: int, trace: bool, data_dir: str) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "git_sha": git_sha(),
        "source_sha1": source_digest(),
        "nproc": host_cpus(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "data_dir": os.path.relpath(data_dir, ROOT),
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "unix_time": time.time(),
        "host_calibration_s": host_calibration_s(),
    }


# -- engine session -----------------------------------------------------------


def start_session(cpus: int | None = None):
    """Stop any running session, then build a fresh one through the
    engine's own factory (a new SparkContext in the running JVM)."""
    from pyspark.sql import SparkSession

    from real_time_fraud_detection_system_using_big_data_analytics_spark.session import get_session

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_session("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut down the py4j gateway and wait for the driver JVM (and with it
    the Python worker daemon) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def repeated_setup(prepare: Callable, repeats: int = 3):
    """Run set-up ``repeats`` times, each from a fresh session: session
    start, registry import and the workload's own preparation. Returns
    (spark, state from the last preparation, per-repeat seconds). The first
    repeat also pays the JVM launch."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

    times, state, spark = [], None, None
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark = start_session()
        registry.load_all()
        state = prepare(spark)
        times.append(time.perf_counter() - t0)
        log(f"setup {len(times)}/{repeats}: {times[-1]:.2f}s")
    return spark, state, times


# -- memory ---------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from /proc. ``exclude`` drops
    a subtree, e.g. the load generator."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        kids = _children_map()
        total, stack = 0, list(kids.get(os.getpid(), []))
        while stack:
            pid = stack.pop()
            if pid in self.exclude:
                continue
            total += _rss_kb(pid)
            stack.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- statistics and results -----------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Result:
    """What one workload run measured. ``metrics`` maps a name to
    (value, unit); ``notes`` carries sample counts and other context for
    the human-readable report and the result record."""

    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    valid: bool = True

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)
