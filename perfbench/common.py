"""Shared pieces of the benchmark: Spark session lifetime, host and JVM
probes, statistics, the canonical result hash and the operation log."""

from __future__ import annotations

import hashlib
import os
import resource
import statistics
import sys
import time
from dataclasses import dataclass, field

import pandas as pd

T_PROCESS = float(os.environ.get("PERFBENCH_T0") or time.time())


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    print(f"[perfbench {time.time() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


# The console progress bar redraws from a JVM thread while the client
# waits; the UI server is already off in the package's session builder.
QUIET_CONF = {"spark.ui.showConsoleProgress": "false"}


def driver_mem_for_host() -> str:
    """A quarter of physical memory, clamped to 1..8 GiB: the package
    default (48g) overcommits small hosts and the data is 17 MB."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1, min(8, kib // (4 * 1024 * 1024)))}g"


def start_spark(tmp_dir: str):
    """Start the package's session under the benchmark's controls."""
    from columnar_database_project_spark.session import get_spark

    conf = dict(QUIET_CONF)
    conf["spark.local.dir"] = tmp_dir
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


# ------------------------------------------------------------------ probes
def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return [0] * 8


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total > 0 else 0.0


def jvm_gc(spark) -> tuple[float, int]:
    """(collection ms, collection count) summed over the JVM's GC beans."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    ms = count = 0
    for i in range(beans.size()):
        bean = beans.get(i)
        ms += max(0, bean.getCollectionTime())
        count += max(0, bean.getCollectionCount())
    return float(ms), int(count)


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    own = _vm_hwm_kib(os.getpid()) or resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own + _vm_hwm_kib(jvm_pid)) / 1024.0


# -------------------------------------------------------------- statistics
def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def class_geomean(by_name: dict[str, list[float]], classes: set[str]) -> float:
    """Geometric mean over ``classes`` of each class's median sample.

    Every class weighs the same whatever its share of the samples, so the
    statistic does not move with the mix of a seeded run, and a class that
    gets k times cheaper moves it by the same factor wherever it ranks."""
    meds = [median(by_name[c]) for c in sorted(classes) if by_name.get(c)]
    if not meds or min(meds) <= 0:
        return 0.0
    return statistics.geometric_mean(meds)


# ------------------------------------------------------------ result check
def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form, the rule of the repository's oracle check: lower-case
    column names sorted, rows sorted by every column, floats rounded to 6
    places, object columns as strings."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    payload = canon(df).to_csv(index=False, float_format="%.6f").encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def fingerprint(df: pd.DataFrame) -> tuple:
    """(row count, sorted column names, value hash) of a result."""
    return len(df), tuple(sorted(c.lower() for c in df.columns)), value_hash(df)


# ------------------------------------------------------------- operations
@dataclass
class OpLog:
    """Latencies and outcomes of the timed operations of one run."""

    reads: list[float] = field(default_factory=list)    # wall seconds
    writes: list[float] = field(default_factory=list)   # wall seconds; other
    # kinds (prefetch cycles) are kept only under their name
    by_name: dict[str, list[float]] = field(default_factory=dict)
    cpu_by_name: dict[str, list[float]] = field(default_factory=dict)
    read_classes: set[str] = field(default_factory=set)   # names of read kinds
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    @property
    def ops(self) -> int:
        """Client operations: reads and writes (not prefetch cycles or checks)."""
        return len(self.reads) + len(self.writes)

    def busy(self) -> tuple[float, float]:
        """(wall, CPU) seconds summed over every timed operation, prefetch
        cycles included; the checks between operations are left out."""
        return (sum(sum(v) for v in self.by_name.values()),
                sum(sum(v) for v in self.cpu_by_name.values()))

    def record(self, name: str, kind: str, seconds: float, cpu: float, ok: bool,
               why: str = "") -> None:
        self.attempted += 1
        if kind == "read":
            self.reads.append(seconds)
            self.read_classes.add(name)
        elif kind == "write":
            self.writes.append(seconds)
        self.by_name.setdefault(name, []).append(seconds)
        self.cpu_by_name.setdefault(name, []).append(cpu)
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {why}"[:300])


class CpuClock:
    """CPU seconds used so far by this process and the driver JVM, all
    threads (local-mode executors run in the JVM) except the JIT
    compiler's: compilation keeps running long after warm-up and took as
    much CPU as the executors in a timed pass. Host CPU steal stretches
    wall time but is not charged here. The JVM's share comes from /proc
    in clock ticks (10 ms)."""

    def __init__(self, spark) -> None:
        pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self._stat = f"/proc/{pid}/stat"
        self._tasks = f"/proc/{pid}/task"
        self._tick = os.sysconf("SC_CLK_TCK")
        self._is_compiler: dict[str, bool] = {}
        # last ticks seen per compiler thread; the JVM starts and retires
        # compiler threads, and a retired one's ticks stay in the total
        self._compiler_ticks: dict[str, int] = {}

    @staticmethod
    def _ticks(path: str) -> int:
        with open(path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])

    def __call__(self) -> float:
        total = self._ticks(self._stat)
        for tid in os.listdir(self._tasks):
            try:
                if tid not in self._is_compiler:
                    with open(f"{self._tasks}/{tid}/comm") as fh:
                        self._is_compiler[tid] = "Compiler" in fh.read()
                if self._is_compiler[tid]:
                    self._compiler_ticks[tid] = self._ticks(f"{self._tasks}/{tid}/stat")
            except OSError:   # the thread ended while listed
                continue
        jvm = total - sum(self._compiler_ticks.values())
        return jvm / self._tick + time.process_time()


def timed(fn, cpu):
    """Run ``fn``; return (result, wall seconds, CPU seconds, error)."""
    c0 = cpu()
    t0 = time.perf_counter()
    try:
        out, err = fn(), ""
    except Exception as exc:  # an operation that raises counts as failed
        out, err = None, f"{type(exc).__name__}: {exc}"
    wall = time.perf_counter() - t0
    return out, wall, cpu() - c0, err
