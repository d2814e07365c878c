"""The processes a run owns: their memory high-water marks, and an
orderly stop that waits for every one of them."""

from __future__ import annotations

import os
import signal
import subprocess
import time

import numpy as np


def children_of(pid: int) -> list[int]:
    """All live descendants of ``pid``, read from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of this driver process, the JVM and the JVM's
    descendants (the Python worker daemon and its workers)."""
    pids = [os.getpid(), jvm_pid] + children_of(jvm_pid)
    return sum(vm_hwm_mb(p) for p in pids)


def cpu_snapshot(jvm_pid: int) -> dict[int, float]:
    """CPU seconds (user + system) used so far by this driver process,
    the JVM and each of the JVM's descendants, by pid."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in [os.getpid(), jvm_pid] + children_of(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = (int(fields[11]) + int(fields[12])) / tick
    return out


def cpu_used(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds used between two snapshots by the processes alive at
    the second one.  Unlike wall time, this leaves out time the machine
    lent to other guests (steal) and time spent waiting for a core."""
    return sum(t - before.get(pid, 0.0) for pid, t in after.items())


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far: the share
    of time the hypervisor gave this machine's cores to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def box_probe(mb: int = 64) -> dict:
    """Memory-subsystem state of the machine at this moment:
    ``fault_mbps`` fills a fresh buffer (page faults in the path),
    ``warm_mbps`` refills the same pages.  Run metadata that explains
    outliers; never a reason to drop a run."""
    n = mb * (1 << 20) // 8
    t0 = time.perf_counter()
    buf = np.empty(n, np.int64)
    buf.fill(1)
    fault = mb / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    buf.fill(2)
    warm = mb / (time.perf_counter() - t0)
    return {"fault_mbps": round(fault, 1), "warm_mbps": round(warm, 1)}


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until the
    JVM and every process under it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = children_of(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
    deadline = time.monotonic() + timeout
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + timeout
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """False for a process that has exited but not been reaped yet."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
