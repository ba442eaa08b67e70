"""Host-side readings from /proc: CPU time and memory of the harness's
processes, the CPU time the rest of the machine used while a run was
going, and the clean-up of any process a run leaves behind."""

from __future__ import annotations

import os
import resource
import signal
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after its ")"
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Live processes below ``root``, found through their parent ids."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU of ``root`` and its live descendants,
    including children they have already reaped."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime (fields 14-17 of /proc/pid/stat)
        total += sum(int(x) for x in f[11:15])
    return total / _HZ


def machine_cpu_s() -> tuple[float, float]:
    """``(busy, steal)`` CPU seconds of the whole machine since boot;
    busy counts every non-idle state, hypervisor steal included."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return (sum(vals[:8]) - idle) / _HZ, vals[7] / _HZ


class Contention:
    """Load average and other processes' CPU time over an interval; a
    record of the run's context, never used to drop or redo a sample."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self._busy, self._steal = machine_cpu_s()
        self._own = tree_cpu_s(os.getpid())
        self._t = time.perf_counter()

    def finish(self) -> dict:
        busy, steal = machine_cpu_s()
        other = (busy - self._busy) - (tree_cpu_s(os.getpid()) - self._own)
        return {
            "loadavg_start": list(self.load_start),
            "loadavg_end": list(os.getloadavg()),
            "other_cpu_s": round(max(other, 0.0), 2),
            "steal_s": round(steal - self._steal, 2),
            "interval_s": round(time.perf_counter() - self._t, 2),
        }


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus the JVM's."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024


def reap(root: int, grace_s: float = 10.0) -> None:
    """Terminate whatever still runs below ``root`` and wait for it."""
    pids = descendants(root)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + grace_s
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.05)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] == "Z"
    except OSError:
        return True
