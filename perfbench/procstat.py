"""Process-tree CPU time and driver peak RSS from /proc (Linux)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listdir and open
    # comm may contain spaces and parentheses: split after the LAST ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including the reaped children each has waited for (cutime/cstime). The
    driver, the Spark JVM it launched and the JVM's Python workers are all in
    this tree, so the sum is monotone while the run lasts."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        got = _stat_fields(name)
        if got is None:
            continue
        ppid, rest = got
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
        ticks[pid] = sum(int(x) for x in rest[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def host_wait_s() -> dict[str, float]:
    """Machine-wide iowait and steal seconds so far (summed over CPUs): the
    time this VM's CPUs waited for disk, and the time the hypervisor gave
    them to other guests."""
    with open("/proc/stat", encoding="ascii") as f:
        cpu = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal
    return {"iowait_s": int(cpu[5]) / _TICK, "steal_s": int(cpu[8]) / _TICK}


def peak_rss_mb() -> float:
    """VmHWM of this process in MiB."""
    with open("/proc/self/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def reset_peak_rss() -> bool:
    """Reset VmHWM to the current RSS (Linux >= 4.0), so the peak covers only
    what runs afterwards. Returns False where the kernel refuses."""
    try:
        with open("/proc/self/clear_refs", "w", encoding="ascii") as f:
            f.write("5")
        return True
    except OSError:
        return False
