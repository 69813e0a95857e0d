"""Run plumbing shared by the workloads: the per-run directory and host
lock, the Spark session, spans around every call into the library,
and the summary statistics the result line is built from."""

from __future__ import annotations

import fcntl
import os
import platform
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


@dataclass
class Span:
    name: str  # "<layer>.<phase>" or "<layer>"
    group: str  # Spark job group id set around the call (trace runs)
    start: float  # perf_counter
    end: float
    epoch: float  # wall clock at start, to line up with event-log times
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """Spans around the calls the benchmark makes into each layer. In a
    traced run every span also sets the Spark job group (id) and job
    description (span name), so the event log ties each job to the span
    that submitted it; untraced runs touch no Spark state here."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.sc = None
        self.spans: list[Span] = []
        self._n = 0
        self._open: list[tuple[str, str]] = []  # (group, name) of the enclosing spans

    def _set_group(self, group: str | None, name: str | None) -> None:
        if self.trace and self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
            self.sc.setLocalProperty("spark.job.description", name)

    @contextmanager
    def span(self, name: str, **attrs):
        self._n += 1
        group = f"pb{self._n}"
        self._set_group(group, name)
        self._open.append((group, name))
        epoch, t0 = time.time(), time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            self._open.pop()
            # jobs after a nested span still belong to the enclosing one
            self._set_group(*(self._open[-1] if self._open else (None, None)))
            self.spans.append(Span(name, group, t0, t1, epoch, attrs))

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]


class RunDir:
    """``.perfbench_runs/<run id>`` inside the checkout, holding every
    file the run writes (inputs, indexes, Spark local dirs, event log).
    The host lock serializes runs in one checkout: the registry entries
    share ``<checkout>/.cache`` across processes."""

    def __init__(self, workload: str, seed: int, trace: bool):
        os.makedirs(RUNS_DIR, exist_ok=True)
        self._lock = open(os.path.join(RUNS_DIR, "lock"), "w")
        fcntl.flock(self._lock, fcntl.LOCK_EX)
        run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.path = os.path.join(RUNS_DIR, run_id)
        os.makedirs(self.path, exist_ok=True)
        for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
            os.makedirs(self.sub(sub), exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def prune(self, keep=("result.json", "eventlog")) -> None:
        """Delete the run's inputs and temporary files, keeping what a later run
        diffs against."""
        import shutil

        for name in os.listdir(self.path):
            if name not in keep:
                p = self.sub(name)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)

    def close(self) -> None:
        fcntl.flock(self._lock, fcntl.LOCK_UN)
        self._lock.close()


def configure_env(run: RunDir, cores: int) -> None:
    """Environment the session and its Python workers inherit: temporary
    files inside the run directory, the checkout on the workers' path."""
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    os.environ["TMPDIR"] = run.sub("tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = run.sub("tmp")


def start_session(run: RunDir, cores: int, trace: bool):
    """Start Spark with the run's paths (and, when tracing, an
    uncompressed non-rolling event log), then apply the package's own
    session posture through ``fuserank_spark.session.get_spark``."""
    from pyspark.sql import SparkSession

    tmp = run.sub("tmp")
    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", run.sub("warehouse"))
        .config("spark.local.dir", run.sub("spark-local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.driver.memory", "2g")
    )
    if trace:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + run.sub("eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    builder.getOrCreate()
    from fuserank_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait for it to exit
    (the JVM exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the JVM it launched."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return (_vm_hwm_kb("self") + jvm) / 1024.0


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies (``/proc/stat``); empty where absent."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: the noise floor of every timing in the run."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def environment(spark, cores: int) -> dict:
    import numpy as np

    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    jvm = spark.sparkContext._jvm.System
    return {
        "nproc": os.cpu_count(),
        "cores": cores,
        "master": spark.sparkContext.master,
        "git_sha": sha,
        "spark": spark.version,
        "java": str(jvm.getProperty("java.version")),
        "numpy": np.__version__,
        "python": platform.python_version(),
    }


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])
