"""Latency statistics and process-tree resource sampling."""

from __future__ import annotations

import math
import os
import threading
import time

#: Operations that must lie beyond a reported tail percentile.
TAIL_BEYOND = 10


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int:
    """Highest whole percentile with at least ``beyond`` of ``n`` samples
    above it; 50 (the median) when there are too few samples for more."""
    best = 50
    for p in range(50, 100):
        if n - math.ceil(n * p / 100.0) >= beyond:
            best = p
    return best


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell–Davis estimate of the ``p`` quantile (``p`` in (0, 1)): the
    mean of the order statistics weighted by the Beta((n+1)p, (n+1)(1-p))
    mass of each ``[i/n, (i+1)/n]``. At a few ops of unlike kinds, the
    plain median is one op's latency and jumps whenever two kinds swap
    places; this estimate moves smoothly instead."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    n = len(xs)
    a, b = (n + 1) * p, (n + 1) * (1 - p)

    def log_pdf(t: float) -> float:  # unnormalised; a, b >= 1 here
        return (a - 1) * math.log(t) + (b - 1) * math.log1p(-t)

    # Trapezoid rule on a grid that puts the interval edges on grid points.
    steps = max(8, 4096 // n)
    h = 1.0 / (n * steps)
    dens = [0.0] + [math.exp(log_pdf(k * h)) for k in range(1, n * steps)] + [0.0]
    weights = [h * (sum(dens[i * steps:(i + 1) * steps + 1])
                    - (dens[i * steps] + dens[(i + 1) * steps]) / 2)
               for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def latency_summary(values: list[float]) -> dict[str, float]:
    p = tail_percentile(len(values))
    return {"p50": hd_quantile(values, 0.5), "tail": hd_quantile(values, p / 100.0),
            "tail_pct": p, "n": len(values),
            "beyond": len(values) - math.ceil(len(values) * p / 100.0)}


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren are fixed.
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for child, parent in _ppid_map().items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_mb(pid: int | None = None) -> float:
    root = os.getpid() if pid is None else pid
    return sum(_rss_bytes(p) for p in descendants(root)) / 2**20


class PeakRss:
    """Samples the RSS of this process tree (driver Python, the JVM and
    its Python workers) on a background thread while the block runs."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def wait_gone(pids: list[int], timeout: float) -> bool:
    """Wait until none of ``pids`` exists (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    state = fh.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                alive.append(p)
        if not alive:
            return True
        time.sleep(0.1)
    return False
