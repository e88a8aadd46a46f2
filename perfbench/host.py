"""Process and host counters read from /proc (read-only).

CPU time of the Spark JVM process tree is the steal-immune cost metric:
on a shared host, wall time includes time the hypervisor gave to other
guests, CPU time does not.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and its descendants, including
    children they have already reaped (Python workers that exited)."""
    total = 0
    for p in tree_pids(root):
        f = _stat_fields(p)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> tuple[float, float, float]:
    """(total, busy, steal) host CPU seconds since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    total = sum(vals[:8])
    idle = vals[3] + vals[4]
    steal = vals[7]
    return total / _TICK, (total - idle - steal) / _TICK, steal / _TICK


class HostWindow:
    """Steal and busy seconds of the whole host over a window; context
    printed next to the metrics, never a metric itself."""

    def __init__(self) -> None:
        self._t0 = cpu_times()

    def close(self) -> dict:
        t1 = cpu_times()
        total, busy, steal = (b - a for a, b in zip(self._t0, t1))
        return {"host_busy_s": round(busy, 2), "host_steal_s": round(steal, 2),
                "host_steal_share": round(steal / total, 4) if total else 0.0}
