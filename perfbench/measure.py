"""Measurement helpers: percentiles, trigger alignment, process-tree CPU and
memory, and the environment readings that let a run be judged on its own."""

from __future__ import annotations

import math
import os
import statistics
import time

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def nearest_rank(values: list[float], p: float) -> float:
    """The reference monitor's percentile: sorted[floor(n*p)], clamped."""
    s = sorted(values)
    return s[min(int(len(s) * p), len(s) - 1)]


def samples_beyond(n: int, p: float) -> int:
    return n - 1 - min(int(n * p), n - 1)


def supported_percentile(values: list[float], p: float) -> float | None:
    """nearest_rank(values, p), or None when fewer than MIN_BEYOND samples lie
    beyond it."""
    if not values or samples_beyond(len(values), p) < MIN_BEYOND:
        return None
    return nearest_rank(values, p)


def next_trigger_s(now_s: float, interval_s: float) -> float:
    """First instant strictly after ``now_s`` that is an epoch multiple of the
    interval: where Spark's processing-time trigger fires next."""
    return (math.floor(now_s / interval_s) + 1) * interval_s


def trigger_lags_s(batch_starts: dict[int, float], start0_s: float,
                   interval_s: float) -> dict[int, float]:
    """Window m -> how late the batch that emitted it started, against the
    trigger scheduled for it: the first one after the window's last file,
    ``start0_s + (m + 1) * interval_s``."""
    return {m: s - (start0_s + (m + 1) * interval_s) for m, s in batch_starts.items()}


# ------------------------------------------------------------ process tree --

_CLK = os.sysconf("SC_CLK_TCK")


def read_proc_stats() -> dict[int, dict]:
    """pid -> {ppid, cpu_s (own), child_cpu_s (reaped children), hwm_kb}."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (field 3); utime is field 14 -> index 11
        out[int(name)] = {
            "ppid": int(fields[1]),
            "cpu_s": (int(fields[11]) + int(fields[12])) / _CLK,
            "child_cpu_s": (int(fields[13]) + int(fields[14])) / _CLK,
        }
    return out


def tree_pids(stats: dict[int, dict], root: int) -> set[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st["ppid"], []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, ()))
    return seen


def tree_cpu_s(stats: dict[int, dict], root: int) -> float:
    """CPU seconds of the engine's process tree: live members' own time plus
    the time of children they have reaped. The process that started the
    engine (the harness and its generator thread) sits above ``root`` and is
    not counted."""
    return sum(
        stats[p]["cpu_s"] + stats[p]["child_cpu_s"] for p in tree_pids(stats, root)
    )


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the per-process peak RSS (VmHWM) over the engine's tree."""
    total_kb = 0
    for pid in tree_pids(read_proc_stats(), root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def process_start_wall_s() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / _CLK)


# ------------------------------------------------------------- environment --


def cpu_speed_probe_s() -> float:
    """Best of 5 timings of a fixed 1M-step Python loop."""
    best = math.inf
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [float(x) for x in os.getloadavg()]


def summary(values: list[float]) -> dict:
    if not values:
        return {"n": 0}
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "p99": nearest_rank(values, 0.99),
        "max": max(values),
    }
