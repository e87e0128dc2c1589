"""Host fitting and witnesses: core count, driver memory, process-tree
RSS sampling from /proc, a single-thread DRAM bandwidth probe, foreign
Spark JVMs, versions, and a clean stop of the Spark JVM."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time
from pathlib import Path

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of host RAM, capped at 4g: well below the host so the
    JVM heap plus one Python worker per core cannot exhaust it."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def dram_gbps(mb: int = 64, passes: int = 7) -> float:
    """Single-thread copy bandwidth (read + write bytes), median pass."""
    src = np.ones(mb << 17)  # mb MiB of float64
    dst = np.empty_like(src)
    times = []
    for _ in range(passes):
        t = time.perf_counter()
        np.copyto(dst, src)
        times.append(time.perf_counter() - t)
    return round(2 * src.nbytes / sorted(times)[passes // 2] / 1e9, 2)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants
    (the Spark JVM, the Python worker daemon and its workers), counting
    children they have already reaped. CPU time stolen by the
    hypervisor is not in it, unlike in wall time."""
    ticks = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark driver JVM and its Python workers), sampled every ``period``."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in descendants(os.getpid()))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return round(self.peak_kb / 1024, 1)


def foreign_spark_jvms() -> list[int]:
    """Spark JVMs on this host that this process did not start."""
    ours = set(descendants(os.getpid()))
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in ours:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark" in cmd:
            found.append(int(d))
    return found


def git_commit(root: Path) -> str:
    if not (root / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def versions() -> dict:
    import pyspark

    return {"spark": pyspark.__version__, "python": platform.python_version()}


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every
    process this one started (JVM, Python worker daemon) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        left = [p for p in started if Path(f"/proc/{p}").exists()]
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)  # reap our own zombies
            except ChildProcessError:
                pass
        left = [p for p in left if Path(f"/proc/{p}").exists()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
