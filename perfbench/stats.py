"""Small measurement helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import subprocess


def percentile(samples: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) and the sample
    count it rests on. Raises on an empty list: a metric without
    samples is a failed run, not a zero."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1], len(s)


def median(samples: list[float]) -> float:
    """Interpolated median (the 0.5 quantile of ``statistics``)."""
    s = sorted(samples)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def probe_lags(sent: dict[int, float], seen: dict[int, float]) -> tuple[list[float], list[int]]:
    """Ingest-to-visible lag per probe: the time of the first poll
    response that listed it minus its send time, both on the
    generator's monotonic clock. Returns (lags in seconds, ids of
    probes never seen)."""
    lags, unseen = [], []
    for tid, t_sent in sorted(sent.items(), key=lambda kv: kv[1]):
        t_seen = seen.get(tid)
        if t_seen is None:
            unseen.append(tid)
        else:
            lags.append(t_seen - t_sent)
    return lags, unseen


def cpu_ticks() -> tuple[int, int] | None:
    """(total, steal) jiffies from /proc/stat, or None where it is
    unreadable."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:9]]
        return sum(vals), vals[7]
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[0] <= before[0]:
        return None
    return round(100.0 * (after[1] - before[1]) / (after[0] - before[0]), 2)


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment(root: str, seed: int, ticks_before) -> dict:
    """The environment block every result carries."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        # unset means the session's own default driver heap
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "steal_pct": steal_pct(ticks_before, cpu_ticks()),
        "git_commit": git_commit(root),
        "seed": seed,
    }


def tree_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` or any of its descendants
    (the server's Python process and its JVM), in MB."""
    best = 0.0
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024.0)
            with open(f"/proc/{p}/task/{p}/children") as f:
                todo += [int(c) for c in f.read().split()]
        except (OSError, ValueError):
            continue
    return best


def dir_stats(root: str) -> tuple[int, int]:
    """(file count, total bytes) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                continue
    return files, size
