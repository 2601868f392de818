"""Shared run context: pinned environment, Spark session, timing helpers."""

from __future__ import annotations

import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
OUT_ROOT = ROOT / ".perfbench_out"


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path, event_dir: Path | None) -> None:
    """Pin the run to this machine from the benchmark side, before pyspark
    is imported: one local core per CPU, the checkout on the executors'
    PYTHONPATH, Spark's scratch and the JVM's temp dir inside the work
    directory, and (traced runs only) an uncompressed single-file event
    log that the stdlib JSON parser can read."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpus())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{event_dir}",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: Path
    spark: object = None
    tracer: object = None
    setup: dict = field(default_factory=dict)  # phase -> seconds
    setup_net: dict = field(default_factory=dict)  # phase -> seconds net of steal
    calls: dict = field(default_factory=dict)  # traced function -> call seconds
    notes: dict = field(default_factory=dict)  # context for the run summary
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        p = self.work.joinpath(*parts)
        p.parent.mkdir(parents=True, exist_ok=True)
        return str(p)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count one correctness check; a failure is recorded, not raised."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:500])
        return ok

    def phase(self, name: str):
        return _Phase(self, name)


class _Phase:
    def __init__(self, b: Bench, name: str):
        self.b, self.name = b, name

    def __enter__(self):
        self.m0 = cpu_times()
        self.t0 = time.perf_counter()

    def __exit__(self, *exc):
        wall = time.perf_counter() - self.t0
        net = wall * (1.0 - busy_steal(self.m0, cpu_times()))
        self.b.setup[self.name] = self.b.setup.get(self.name, 0.0) + wall
        self.b.setup_net[self.name] = self.b.setup_net.get(self.name, 0.0) + net


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    """Materialize every row and column without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_SPEED_BYTES = bytes(range(256)) * 4096                          # 1 MiB
_SPEED_SORT = None
_SPEED_SCAN = None


def speed_sample(i: int) -> float:
    """CPU seconds a fixed task takes right now: a pure-Python loop, a
    SHA-256 of 1 MiB, a sort of 200k floats and a sum over 32 MB, ~20 ms in
    all. No engine code runs in it, so its time tracks only the speed the
    host gives this guest's CPUs at the moment. It is the thread's CPU
    time, not wall time, so that neither steal (netted out of wall times
    separately) nor the engine's own background threads count in it. On
    a shared host that speed changed up to two-fold within an hour, with no
    steal reported; the benchmark takes one sample before every operation
    and scales its times by a power of the run's median sample (see
    ``run.SPEED_POWER``). Sample ``i`` runs on the ``i``-th CPU this process
    may use (round robin), because the host slows the guest's CPUs unevenly
    and the engine's work spreads over all of them."""
    global _SPEED_SORT, _SPEED_SCAN
    import hashlib

    import numpy as np

    if _SPEED_SORT is None:
        _SPEED_SORT = np.random.default_rng(1).random(200_000)
        _SPEED_SCAN = np.ones(4_000_000)
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, {cpus[i % len(cpus)]})  # this thread only
    try:
        t0 = time.thread_time()
        x = 0
        for k in range(200_000):
            x = (x * 31 + k) & 0xFFFFFFFF
        hashlib.sha256(_SPEED_BYTES).digest()
        np.sort(_SPEED_SORT)
        _SPEED_SCAN.sum()
        return time.thread_time() - t0
    finally:
        os.sched_setaffinity(0, cpus)


def jit_s(spark) -> float:
    """Seconds the JVM's JIT compilers have spent compiling so far."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return mx.getTotalCompilationTime() / 1e3


def cpu_times() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def busy_steal(a: list[int], b: list[int]) -> float:
    """Share of the time the machine's CPUs wanted to run that the
    hypervisor gave to other guests, between two /proc/stat readings.
    Wall times are reported multiplied by one minus this share: the time
    the work would take on CPUs nobody else was using."""
    d = [y - x for x, y in zip(a, b)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / max(busy, 1)
