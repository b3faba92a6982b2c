"""Host facts: CPU count, steal time, load, the process tree's CPU and
memory, and the provenance every result carries (32-CPU and 4-CPU
numbers must never be compared silently)."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time
import zlib
from pathlib import Path

import numpy as np

CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """Cumulative hypervisor steal of all CPUs, in CPU-seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def stolen_per_cpu_s() -> float:
    """Cumulative steal averaged over the CPUs: the seconds each CPU
    lost, on average.  Subtracted from a wall-clock interval it gives the
    time the interval would have taken with no steal (to first order),
    which keeps a hypervisor's episodic steal out of the timings."""
    return steal_s() / (os.cpu_count() or 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``: the JVM and its Python workers."""
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by the processes below ``pid``."""
    total = 0
    for p in descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def run_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it (the JVM and its Python workers)."""
    return time.process_time() + tree_cpu_s()


def python_worker_cpu_s() -> float:
    """CPU seconds of the Spark Python workers (every process below the
    JVM), which the JVM's executor CPU time does not include."""
    return sum(tree_cpu_s(p) for p in descendants(os.getpid()) if _is_jvm(p))


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def tree_peak_rss_mb() -> float:
    """Sum of the high-water RSS of this process and every process below
    it (JVM and Python workers)."""
    total_kb = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def wait_for_exit(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid has ended; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


class Calibration:
    """The speed of the host, from a fixed single-thread kernel that does
    not use the package: zlib compression, a sha256 and a numpy sort of
    seeded data, the same kinds of work as the encode kernels.

    This host's speed drifts by up to 1.5x over an hour with no steal
    recorded, and the drift moves the benchmark's set-up and pass times
    with it.  Over four sets of five runs each, spread over an hour,
    the kernel time followed the pass time (correlation 0.8-0.9), and
    dividing by it halved the spread of the pass and set-up times.
    Timings are therefore scaled by ``REF_S / median kernel time``: they
    read as seconds on a host where the kernel takes ``REF_S`` (its
    median on a 4-CPU x86-64 VM).  The kernel runs between passes,
    never during one."""

    REF_S = 0.065

    def __init__(self):
        rng = np.random.default_rng(0)
        vocab = np.array("spark window merge table column vector stream value".split())
        text = " ".join(vocab[rng.integers(0, len(vocab), 200_000)]).encode()
        self.text = text[: 1 << 20]
        self.blob = self.text * 8
        self.floats = rng.random(1 << 21)
        # sorted in place: fresh memory would time the page-fault path
        self.work = np.empty_like(self.floats)
        self.samples: list[float] = []

    def sample(self, reps: int = 3) -> None:
        for _ in range(reps):
            t0 = time.perf_counter()
            zlib.compress(self.text, 6)
            hashlib.sha256(self.blob).digest()
            self.work[:] = self.floats
            self.work.sort()
            self.samples.append(time.perf_counter() - t0)

    def scale(self) -> float:
        """Factor that turns this run's seconds into reference seconds."""
        return self.REF_S / statistics.median(self.samples)


class HostSampler:
    """Steal and load over one run."""

    def __init__(self):
        self.steal0 = steal_s()
        self.t0 = time.perf_counter()

    def finish(self) -> dict:
        return {
            "wall_s": time.perf_counter() - self.t0,
            "steal_s": steal_s() - self.steal0,
            "loadavg_1m": os.getloadavg()[0],
            "peak_rss_mb": tree_peak_rss_mb(),
        }


def _git_commit(root: Path) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def source_digest(root: Path) -> str:
    """sha256 over the package sources: identifies the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((root / "parquetjs_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def provenance(spark, root: Path) -> dict:
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "spark_master": sc.master,
        "spark_default_parallelism": sc.defaultParallelism,
        "spark_shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "git_commit": _git_commit(root),
        "source_sha256": source_digest(root),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "loadavg_1m_at_start": os.getloadavg()[0],
    }
