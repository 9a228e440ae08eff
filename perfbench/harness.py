"""Host pinning, session start and the closed-loop op timer shared by the
workloads.

The benchmark is a closed loop with one client: the next op starts only
after the previous one returned. Ops run in whole passes over the
workload's op list, in an order drawn from the seed; a run keeps starting
passes until at least ``--seconds`` of op time has been measured, so every
run times each op of the list the same number of times.

Op and set-up times are steal-adjusted (:func:`interval`): the host is a
virtual machine whose hypervisor takes CPU time away from it in bursts of
up to minutes, which slowed whole runs by a fifth to a half. Each
interval's wall time is scaled by the share of the CPU time demanded in
it that the hypervisor did not steal.
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DATA = ROOT / "perfbench" / "data" / "sf0.01"

# the driver JVM heap, kept well below host RAM (get_spark's default is
# 16g, which exceeds a 15 GB host). It is committed and touched at start,
# so the resident peak does not depend on when G1 decides to grow the heap.
DRIVER_MEMORY_MB = 2048


def host_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_host(work: Path) -> dict:
    """Pin the knobs a result depends on and describe the host. Must run
    before ``purldb_spark.session`` is imported (it reads the env)."""
    cpus = len(os.sched_getaffinity(0))
    ram = host_ram_mb()
    if DRIVER_MEMORY_MB >= ram:
        raise RuntimeError(
            f"driver memory {DRIVER_MEMORY_MB} MB is not below host RAM {ram} MB"
        )
    for sub in ("local", "tmp", "warehouse", "uds"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{DRIVER_MEMORY_MB}m"
    # every scratch file of the JVM, the Python workers and DuckDB stays
    # inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Python workers import the package and the benchmark's own modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p
        for p in (str(ROOT), str(ROOT / "perfbench"), os.environ.get("PYTHONPATH"))
        if p
    )
    return {
        "fingerprint": hashlib.sha256(platform.node().encode()).hexdigest()[:8],
        "machine": platform.machine(),
        "cpus": cpus,
        "ram_mb": ram,
        "driver_memory_mb": DRIVER_MEMORY_MB,
        "python": platform.python_version(),
    }


def harrell_davis_median(xs: list[float]) -> float:
    """The Harrell-Davis estimate of the median: every order statistic,
    weighted by how much of a Beta((n+1)/2, (n+1)/2) density falls on its
    rank interval. An op list of a few distinct queries leaves a gap
    between the two middle ones, and the sample median jumps across that
    gap from run to run; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    steps = 64  # midpoint-rule points per rank interval
    weights = [
        sum(
            # the density over its peak value, which keeps it from underflowing
            math.exp((a - 1) * math.log(4 * t * (1 - t)))
            for t in ((i + (j + 0.5) / steps) / n for j in range(steps))
        )
        for i in range(n)
    ]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def host_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time in jiffies, summed over the machine's CPUs,
    from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


@dataclass
class Interval:
    """One timed interval: its wall seconds and the stolen share of the CPU
    time demanded during it."""

    wall: float = 0.0
    share: float = 0.0

    @property
    def seconds(self) -> float:
        """Steal-adjusted seconds. A vCPU only accrues steal while it has
        work to run, so the share is how much the running work was slowed;
        on a host without steal this is the wall time."""
        return self.wall * (1.0 - self.share)


@contextmanager
def interval():
    iv = Interval()
    busy0, steal0 = host_jiffies()
    t0 = time.perf_counter()
    try:
        yield iv
    finally:
        iv.wall = time.perf_counter() - t0
        busy1, steal1 = host_jiffies()
        demanded = busy1 - busy0 + steal1 - steal0
        iv.share = (steal1 - steal0) / demanded if demanded else 0.0


@dataclass
class Pass:
    """What one timed loop measured: per-op steal-adjusted seconds, their
    wall seconds and stolen shares, failures and the op time it covered
    (fixtures built lazily inside ops excluded, and summed in ``lazy_s``)."""

    latencies: list[float] = field(default_factory=list)
    walls: list[float] = field(default_factory=list)
    shares: list[float] = field(default_factory=list)
    seconds: float = 0.0
    lazy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    items: int = 0
    counters: list[dict] = field(default_factory=list)

    def add(self, iv: Interval, ok: bool, items: int = 1, counters=None,
            lazy: float = 0.0):
        """Record one op timed by ``iv``, of which ``lazy`` wall seconds
        built fixtures."""
        keep = 1.0 - iv.share
        self.walls.append(max(iv.wall - lazy, 0.0))
        self.latencies.append(self.walls[-1] * keep)
        self.shares.append(iv.share)
        self.seconds += self.latencies[-1]
        self.lazy_s += lazy * keep
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.items += items
        if counters is not None:
            self.counters.append(counters)

    def p50_ms(self) -> float:
        return harrell_davis_median(self.latencies) * 1000.0

    def wall_p50_ms(self) -> float:
        return harrell_davis_median(self.walls) * 1000.0

    def steal_share(self) -> float:
        return sum(self.shares) / len(self.shares)

    def ops_per_s(self) -> float:
        return self.attempted / self.seconds

    def tail(self):
        """(percentile, ms) of the highest percentile with at least ten
        samples beyond it, or None below 40 samples, where that percentile
        would be under p75 and no tail."""
        n = len(self.latencies)
        if n < 40:
            return None
        return 100.0 * (n - 10) / n, sorted(self.latencies)[n - 11] * 1000.0

    def mean(self, key: str) -> float:
        return (
            sum(c.get(key, 0.0) for c in self.counters) / len(self.counters)
            if self.counters
            else 0.0
        )


class Context:
    """One benchmark run: its work directory, set-up phases and session."""

    def __init__(self, seed: int, seconds: int, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.setup_phases: list[tuple[str, float, float]] = []
        self.spark = None

    @contextmanager
    def phase(self, name: str):
        """Time a set-up phase (wall clock, so it can become a span)."""
        start = time.time()
        try:
            yield
        finally:
            self.setup_phases.append((name, start, time.time()))

    def phase_seconds(self, name: str) -> float:
        return sum(e - s for n, s, e in self.setup_phases if n == name)

    def start_session(self):
        with self.phase("session.start"):
            from purldb_spark.session import get_spark

            self.spark = get_spark(
                "perfbench",
                cpus=os.environ["SPARK_GRAFT_CPUS"],
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                    # no hsperfdata file: HotSpot writes it to /tmp whatever
                    # java.io.tmpdir says
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{DRIVER_MEMORY_MB}m -XX:+AlwaysPreTouch "
                        f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}"
                    ),
                    # relative to the checkout root, the working directory
                    # of this process, the JVM and its Python workers: an
                    # absolute path under a deep checkout can exceed the
                    # 107-byte limit of a Unix socket path
                    "spark.python.unix.domain.socket.dir": str(
                        (self.work / "uds").relative_to(ROOT)
                    ),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this Python
        process (VmHWM from /proc)."""
        pids = ["self"]
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            pids.append(str(proc.pid))
        total_kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0

    def close(self) -> None:
        """Stop Spark and wait for the JVM (it exits when its stdin
        closes; its Python workers stop with the SparkContext)."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def describe(exc: BaseException) -> str:
    """One line for a failed op: the exception type and the first two
    lines of its message (a Py4J error's second line is the Java one)."""
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    return f"{type(exc).__name__}: {' '.join(lines[:2])}"[:300]
