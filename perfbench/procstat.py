"""Readers for /proc: process-tree CPU and memory, CPU steal, load.

The benchmark's cost metrics cover the whole process tree: the Python
driver, the JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system seconds of ``pids``, including children they have
    reaped (Python workers end up in their daemon's cutime/cstime)."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_cpu_seconds(root: int) -> float:
    return cpu_seconds(descendants(root))


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_seconds(root: int) -> float:
    """CPU seconds of the PySpark worker daemon and the workers it forks."""
    return cpu_seconds([p for p in descendants(root)
                        if "pyspark.daemon" in _cmdline(p)
                        or "pyspark.worker" in _cmdline(p)])


def hwm_mb_by_process(root: int) -> dict[str, float]:
    """VmHWM (peak resident set) in MB of each live process in the
    tree, keyed by ``<pid>:<command>``."""
    out = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        name = _cmdline(pid).split(" ")[0].rsplit("/", 1)[-1]
                        out[f"{pid}:{name}"] = int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return out


def tree_hwm_mb(root: int) -> float:
    """Summed VmHWM of the live process tree, MB."""
    return sum(hwm_mb_by_process(root).values())


def reset_hwm() -> None:
    """Restart this process's VmHWM from its current resident set, so
    benchmark-side work done before (input generation, the DuckDB
    oracle) does not count as the engine's peak memory."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total and len(delta) > 7 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
