"""Shared pieces of the benchmark: the Spark session, process CPU
accounting from /proc, percentiles, host contention and the result
record every workload fills in.

Nothing here starts a thread or a process at import time; the session
is built by :func:`start_spark` and torn down by :func:`stop_spark`,
which waits for the JVM (and with it the Python workers) to exit.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# Work space for tables, Spark spill and temp files. Relative to the
# working directory, which is the root of the checkout.
WORK_DIR = ".perfbench_work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> tuple[int, int]:
    """(all ticks, stolen ticks) since boot: steal is the time a
    hypervisor ran something else while the guest's CPUs had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def put_latency(result, by_pass: list[list], pass_times: list[float]) -> None:
    """Latency metrics over each operation's quickest repeat.

    Every pass sends the same operations in the same order, and a
    virtual machine loses CPU to its hypervisor in bursts of seconds to
    tens of seconds (each run's summary reports the stolen share). An
    operation's lowest latency across passes measures the program
    rather than its neighbours, the way bench.py keeps each query's
    minimum across round-robin passes. ``by_pass[p][i]`` is operation
    ``i``'s latency in pass ``p``, or None where it was traced."""
    best = [
        min(v for v in repeats if v is not None)
        for repeats in zip(*by_pass)
        if any(v is not None for v in repeats)
    ]
    result.put("p50_ms", percentile(best, 50) * 1000, "ms")
    result.put("p90_ms", percentile(best, 90) * 1000, "ms")
    result.put("pass_s", min(pass_times), "s")


def passes(seconds: float, pass_s: float, least: int = 1) -> int:
    """How many whole passes fill ``seconds``, given a pass's nominal
    length. Fixed up front, so every run does the same work."""
    return max(least, round(seconds / pass_s))


# -- process CPU --------------------------------------------------------


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, own ticks, reaped-children ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is the state (stat field 3); utime, stime, cutime and
    # cstime are stat fields 14-17
    ppid = int(fields[1])
    own = int(fields[11]) + int(fields[12])
    reaped = int(fields[13]) + int(fields[14])
    return ppid, own, reaped


@dataclass
class CpuSample:
    driver_ms: float
    jvm_ms: float
    python_ms: float

    @property
    def total_ms(self) -> float:
        return self.driver_ms + self.jvm_ms + self.python_ms

    def __add__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver_ms + other.driver_ms,
            self.jvm_ms + other.jvm_ms,
            self.python_ms + other.python_ms,
        )

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver_ms - other.driver_ms,
            self.jvm_ms - other.jvm_ms,
            self.python_ms - other.python_ms,
        )


class ProcessCpu:
    """CPU of the driver process, the Spark JVM and the Python workers.

    The JVM's executor CPU counters leave out work done in Python
    workers, so the workers (every descendant of the JVM, including
    exited ones the daemon has reaped) are counted from /proc.
    """

    def __init__(self, jvm_pid: int) -> None:
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid

    def sample(self) -> CpuSample:
        stats: dict[int, tuple[int, int, int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _stat(int(entry))
                if st is not None:
                    stats[int(entry)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(st[0], []).append(pid)
        python = 0
        # reaped direct children of the JVM are Python daemons too
        if self.jvm_pid in stats:
            python += stats[self.jvm_pid][2]
        stack = list(children.get(self.jvm_pid, []))
        while stack:
            pid = stack.pop()
            python += stats[pid][1] + stats[pid][2]
            stack.extend(children.get(pid, []))
        jvm = stats[self.jvm_pid][1] if self.jvm_pid in stats else 0
        driver = stats[self.driver_pid][1] if self.driver_pid in stats else 0
        scale = 1000.0 / _CLK_TCK
        return CpuSample(driver * scale, jvm * scale, python * scale)


# -- Spark session ------------------------------------------------------


def prepare_work_dir() -> str:
    """Empty the work space and point temp files and Spark spill at
    it, so a run reads and writes only inside the checkout."""
    root = os.path.abspath(WORK_DIR)
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(root, sub))
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # the launcher JVM would otherwise leave perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR
    return root


def start_spark():
    """Build the session through the engine's own ``get_spark`` at
    local[nproc]; returns (spark, jvm_pid)."""
    from timeseries_data_provider_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        cpus=nproc(),
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark, spark.sparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit; the JVM leaves
    when its stdin closes and takes its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- the result record --------------------------------------------------


@dataclass
class Result:
    """What one run reports. ``metrics`` maps name -> (value, unit).

    Every checked operation counts as attempted, and every mismatch as
    failed. A mismatch also clears ``correct`` unless the check is
    marked ``known_defect``: those are operations that fail at the
    seed for a documented reason (see BENCHMARK.json), counted so that
    a fix shows as fewer failures.
    """

    attempted: int = 0
    failed: int = 0
    correct: bool = True
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str, known_defect: bool = False) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if not known_defect:
                self.correct = False
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def wall() -> float:
    return time.perf_counter()


# -- one run ------------------------------------------------------------

END_TO_END = ("setup_s", "p50_ms", "p90_ms", "cpu_ms_per_op", "pass_s")


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    """Set up, measure and tear down one workload; returns the summary
    and the result object ``run.py`` prints."""
    import importlib

    from .trace import Tracer

    workload = importlib.import_module(f"perfbench.{name}")
    saved_env = {
        k: os.environ.get(k)
        for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS")
    }
    prepare_work_dir()
    load_start = loadavg()
    ticks_start = cpu_times()
    result = Result()
    spark = tracer = None
    try:
        t0 = wall()
        spark, jvm_pid = start_spark()
        start_s = wall() - t0
        if trace:
            tracer = Tracer(spark).install()
        workload.run(
            spark, seed, seconds, tracer, size, result, ProcessCpu(jvm_pid), start_s
        )
    finally:
        if tracer is not None:
            tracer.remove()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK_DIR, ignore_errors=True)
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None

    ticks_end = cpu_times()
    total = ticks_end[0] - ticks_start[0]
    e2e = {k: result.metrics[k] for k in END_TO_END}
    if tracer is not None:
        tracer.layers.add("session.start_s", start_s)
        metrics = tracer.layers.report()
    else:
        metrics = e2e
    summary = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "size": size,
        "nproc": nproc(),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "steal_share": round((ticks_end[1] - ticks_start[1]) / max(total, 1), 4),
        "end_to_end": {k: round(v[0], 6) for k, v in e2e.items()},
        "failures": result.failures,
        **result.info,
    }
    return {
        "summary": summary,
        "result": {
            "correct": result.correct,
            "attempted": result.attempted,
            "failed": result.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        },
    }
