"""Statistics, memory and environment capture for the benchmark."""

from __future__ import annotations

import math
import os
import platform
import re
import statistics
import sys

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(samples: list[float], ladder=TAIL_LADDER,
                    min_beyond: int = MIN_BEYOND):
    """The highest percentile of `ladder` with at least `min_beyond`
    samples above it (nearest-rank definition). Returns (percentile,
    value, samples beyond) or None when even the lowest rung has fewer
    than `min_beyond` samples beyond it."""
    ordered = sorted(samples)
    n = len(ordered)
    best = None
    for p in ladder:
        # rounded first so 99.9% of 10000 is rank 9990, not 9991
        rank = max(1, math.ceil(round(p * n / 100.0, 9)))
        beyond = n - rank
        if beyond >= min_beyond:
            best = (p, ordered[rank - 1], beyond)
    return best


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals: the time during
    which at least one job was in flight."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# ---------------------------------------------------------------------------
# Memory: VmHWM (peak RSS) of a process and its JVM child
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the ppid is the second field after the parenthesized comm
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def program_pids(root_pid: int) -> list[int]:
    """The program's driver process and its JVM child(ren)."""
    return [root_pid] + [c for c in _children(root_pid) if _comm(c) == "java"]


def reset_peak_rss(pids: list[int]) -> None:
    """Reset VmHWM to the current RSS (clear_refs value 5)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """VmHWM of each pid, in MiB, keyed by "<comm>:<pid>"."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[f"{_comm(pid)}:{pid}"] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    """pid and all its descendants."""
    out, stack = [pid], [pid]
    while stack:
        kids = _children(stack.pop())
        out += kids
        stack += kids
    return out


def steal_seconds() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs
    since boot (summed over vCPUs)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    ticks = os.sysconf("SC_CLK_TCK")
    return int(fields[8]) / ticks if len(fields) > 8 else 0.0


def environment(seed: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "executable": os.path.basename(sys.executable),
    }
