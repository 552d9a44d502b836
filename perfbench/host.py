"""Host conditions and process memory, read from ``/proc``.

The record printed with every run: CPU count, 1-minute load average at
start and end, how many JVMs other than ours are running, and two CPU
probes — one core, then one probe per core at once — so a slow or
crowded host shows up beside the figures it distorts.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

PROBE_N = 300_000


def _spin(_i: int = 0) -> float:
    t = time.perf_counter()
    x = 0
    for i in range(PROBE_N):
        x += i * i % 7
    return (time.perf_counter() - t) * 1e3


def cpu_probe_ms() -> float:
    """Median of three runs of a fixed pure-Python loop on one core."""
    return sorted(_spin() for _ in range(3))[1]


def cpu_probe_all_ms(nproc: int) -> float:
    """Median loop time with ``nproc`` loops running at once, one per
    child interpreter. The children start their loops together, on a
    line from the parent, and every child is waited for, so none
    outlives the probe."""
    code = (f"import sys; sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r}); "
            "import host; sys.stdin.readline(); print(host._spin())")
    procs = [subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE,
                              stdout=subprocess.PIPE, text=True) for _ in range(nproc)]
    try:
        for p in procs:
            p.stdin.write("\n")
            p.stdin.flush()
        times = [float(p.communicate(timeout=60)[0]) for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return sorted(times)[len(times) // 2]


def _status_field(pid: int, field: str) -> int:
    """First integer of a ``/proc/<pid>/status`` field (0 if absent)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of the given processes."""
    return sum(_status_field(p, "VmHWM") for p in pids) / 1024


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def foreign_jvms() -> int:
    """Running JVMs that are not descendants of this process."""
    me = os.getpid()
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or not _is_java(int(d)):
            continue
        p = int(d)
        for _ in range(32):
            p = _status_field(p, "PPid")
            if p in (0, 1, me):
                break
        n += p != me
    return n


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks: user + system, plus reaped children's)."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; [11:15] utime, stime, cutime, cstime
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return stats


def _tree(roots: list[int], stats: dict[int, tuple[int, int]]) -> set[int]:
    keep = set(roots)
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _ticks) in stats.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return keep & set(stats)


def _start_time(pid: int) -> int | None:
    """Start time of a live (not zombie) process, None otherwise."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else int(fields[19])


def descendants(root: int) -> dict[int, int]:
    """Live processes below ``root``: pid -> start time, so that a pid
    the system reuses later is not taken for the same process."""
    found = {p: _start_time(p) for p in _tree([root], _proc_stats()) - {root}}
    return {p: t for p, t in found.items() if t is not None}


def tree_cpu_s(roots: list[int]) -> float:
    """CPU seconds used so far by ``roots`` and every live descendant,
    such as the JVM's Python workers."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(roots, stats)) / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Make processes orphaned below this one (such as children of the
    JVM launcher script) its children, so that ``reap_children`` can
    collect them instead of leaving them to init."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_gone(procs: dict[int, int], timeout: float = 30.0) -> None:
    """Wait until every process of ``descendants()`` has ended; kill
    what still runs after ``timeout`` seconds, and wait for that too."""
    def alive() -> list[int]:
        return [p for p, t in procs.items() if _start_time(p) == t]

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in alive():
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while alive():
        time.sleep(0.05)


def load1() -> float:
    return os.getloadavg()[0]


def record_start() -> dict:
    nproc = os.cpu_count() or 1
    return {"nproc": nproc, "load1_start": load1(),
            "foreign_jvms": foreign_jvms(),
            "cpu_probe_ms": round(cpu_probe_ms(), 2),
            "cpu_probe_all_ms": round(cpu_probe_all_ms(nproc), 2)}
