"""Host record and canary: what the numbers were measured on.

The canary is informational, not a gate. It times a fixed pure-Python
loop on one core, then the same loop in ``nproc`` child processes at
once; ``effective_cores`` = nproc × single ÷ pool reads below nproc when
co-tenants or hypervisor steal take cores away, so noisy runs can be
identified afterwards.

Process hygiene: the benchmark adopts the processes its children leave
behind (the JVM's Python workers) and waits for every one of them before
it exits, so no run leaves a process that a later run could meet.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import subprocess
import sys
import time

LOOP_N = 3_000_000


def _loop() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(LOOP_N):
        acc += i * i
    return time.perf_counter() - t0


def canary(nproc: int) -> dict:
    single = _loop()
    # each child starts, says it is ready and runs the loop when its stdin
    # closes, so process start-up stays outside the timing
    procs = [subprocess.Popen([sys.executable, os.path.abspath(__file__), "--loop"],
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
             for _ in range(nproc)]
    try:
        for p in procs:
            p.stdout.readline()
        t0 = time.perf_counter()
        for p in procs:
            p.stdin.close()
        for p in procs:
            p.stdout.read()
        wide = time.perf_counter() - t0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
            p.stdout.close()
    return {
        "canary_single_s": round(single, 4),
        "canary_pool_s": round(wide, 4),
        "canary_pool_width": nproc,
        "canary_effective_cores": round(nproc * single / wide, 2),
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_frac(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this host since ``since``."""
    steal, total = cpu_ticks()
    return round((steal - since[0]) / max(total - since[1], 1), 4)


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 1)
    return 0.0


def record(spark, settings: dict) -> dict:
    import pyarrow
    import pyspark

    jvm = spark._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "ram_gb": ram_gb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": jvm.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "settings": settings,
    }


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _tree(root_pid: int) -> tuple[set[int], dict[int, int]]:
    """``root_pid`` and its live descendants, and the CPU ticks of every
    process (with those of its reaped children)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was read
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    tree, frontier = set(), [root_pid]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [c for c, p in parent.items() if p == pid and c not in tree]
    return tree, ticks


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this process, by ``root_pid`` and by every
    live descendant of it (Python workers), plus their reaped children.
    Time the hypervisor steals from the host is not in it."""
    tree, ticks = _tree(root_pid)
    own = os.times()
    return (sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")
            + own.user + own.system)


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant whose own parent
    ends first, so that ``reap_all`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_all(timeout: float) -> int:
    """Wait until this process has no child left, adopted orphans
    included; kill every descendant still alive after ``timeout`` seconds.
    Returns the number of processes killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return 0
        if not pid:
            time.sleep(0.05)
    me = os.getpid()
    stragglers = _tree(me)[0] - {me}
    for pid in stragglers:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return len(stragglers)


if __name__ == "__main__" and sys.argv[1:] == ["--loop"]:
    print("ready", flush=True)
    sys.stdin.read()
    print(_loop(), flush=True)
