"""Host readings from /proc: process-tree CPU time and a noise
fingerprint (load average, CPU steal, fixed-work calibration)."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """pid -> parent pid, and pid -> CPU ticks of itself and its reaped
    children, for every process alive now."""
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])
    return parent, cpu


def _subtree(root_pid: int, parent: dict[int, int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User+system CPU seconds of ``root_pid`` and every descendant
    alive now, plus what their reaped children already used (the
    ``cutime``/``cstime`` fields), so exited Python workers and
    PostgreSQL backends still count."""
    parent, cpu = _proc_table()
    return sum(cpu.get(p, 0) for p in _subtree(root_pid or os.getpid(), parent)) / _TICK


def descendants() -> list[int]:
    """Every live process this one started, directly or not."""
    return _subtree(os.getpid(), _proc_table()[0])[1:]


def adopt_orphans() -> None:
    """Become the reaper of orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): processes that Spark's launcher scripts
    leave behind are re-parented here instead of to init, so
    ``reap_children`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36 = PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until each process has ended; kill what is left at the end."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def steal_s() -> float:
    """Host-wide CPU steal so far: time the hypervisor ran something
    else while this machine's CPUs wanted to run."""
    return _steal_ticks() / _TICK


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def calibrate() -> float:
    """Seconds for a fixed single-core integer workload; its drift
    between runs is host noise, not code."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


class Fingerprint:
    def __init__(self) -> None:
        self.load_before = os.getloadavg()
        self.steal_before = _steal_ticks()
        self.calib_before = calibrate()

    def finish(self) -> dict:
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": self.load_before,
            "loadavg_after": os.getloadavg(),
            "steal_s": (_steal_ticks() - self.steal_before) / _TICK,
            "calibration_s_before": round(self.calib_before, 4),
            "calibration_s_after": round(calibrate(), 4),
        }
