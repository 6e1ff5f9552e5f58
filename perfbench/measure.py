"""Statistics and process-tree accounting read from /proc."""

from __future__ import annotations

import math
import os
import random
import statistics
import threading
import time
import zlib

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(values) -> float:
    return float(statistics.median(values))


def gmean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values, min_above: int = 10) -> tuple[float, float, int]:
    """(value, percentile, samples above) of the highest percentile that
    still has ``min_above`` samples above it, never below the median.

    With fewer than ``2 * min_above`` samples the median is the highest such
    percentile; the returned count of samples above then says so.
    """
    xs = sorted(values)
    n = len(xs)
    # the value at sorted index k has n - 1 - k samples above it
    k = max(n - 1 - min_above, n // 2)
    return xs[k], 100.0 * k / (n - 1) if n > 1 else 100.0, n - 1 - k


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = _stat_fields(pid)
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and every live descendant: the driver, the JVM and the Python
    worker tree."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        fields = _stat_fields(str(pid))
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_mb() -> float:
    """Resident set of this process."""
    return _status_kb(os.getpid(), "VmRSS") / 1024


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) over this process tree."""
    return sum(_status_kb(p, "VmHWM") for p in [os.getpid(), *descendants()]) / 1024


def seconds_since_process_start() -> float:
    """Wall seconds since this process was created, from /proc."""
    start_ticks = int(_stat_fields("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


#: 1 MiB of seeded 6-bit noise for the host probe
_PROBE_BUF = bytes(b & 0x3F for b in random.Random(0).randbytes(1 << 20))


def host_probe_s(threads: int = 4) -> float:
    """Wall of a fixed CPU job that runs none of the program's code: each of
    ``threads`` threads zlib-compresses the same 1 MiB once. zlib releases
    the GIL, so the threads run in parallel and the wall follows the speed
    the host gives this many cores at the moment."""
    workers = [threading.Thread(target=zlib.compress, args=(_PROBE_BUF, 6)) for _ in range(threads)]
    t0 = time.perf_counter()
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return time.perf_counter() - t0
