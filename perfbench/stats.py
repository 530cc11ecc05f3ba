"""Order statistics and host readings from ``/proc`` (no psutil needed)."""

from __future__ import annotations

import math
import os

# percentiles offered for a tail, highest first
TAIL_LADDER = (99, 95, 90, 75)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def tail_percentile(n: int) -> int | None:
    """Highest percentile of ``TAIL_LADDER`` that has at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None."""
    for p in TAIL_LADDER:
        if math.floor(n * (100 - p) / 100) >= MIN_BEYOND:
            return p
    return None


def repeats_exactly(counts: list[int]) -> bool:
    """A count may back a claim only if every op gave the same value."""
    return len(set(counts)) <= 1


def read_cpu_times(stat_text: str | None = None) -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` as clock ticks:
    user nice system idle iowait irq softirq steal (guest is in user)."""
    if stat_text is None:
        with open("/proc/stat") as f:
            stat_text = f.read()
    for line in stat_text.splitlines():
        if line.startswith("cpu "):
            return [int(x) for x in line.split()[1:9]]
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two readings that the hypervisor
    gave to other guests."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return delta[7] / total if total > 0 else 0.0


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return text[text.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _proc_stat(int(entry))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User+system CPU of ``root`` and all its descendants, including
    children they have already reaped."""
    ticks = 0
    for pid in process_tree(root):
        fields = _proc_stat(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14-17 of the full line
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of ``pid`` in MiB (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
