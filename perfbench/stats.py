"""Summary statistics and box measurements for the benchmark."""

from __future__ import annotations

import math
import os
import statistics
import threading

MIN_BEYOND = 10


def median(samples) -> float:
    return statistics.median(samples) if samples else float("nan")


def tail_percentile(samples, q: float) -> float | None:
    """The ``q``-th percentile of ``samples``, or None unless at least
    ``MIN_BEYOND`` samples lie above it: a tail figure resting on fewer
    samples is noise, so it is withheld rather than reported."""
    if not samples:
        return None
    ordered = sorted(samples)
    value = ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]  # nearest rank
    beyond = sum(1 for v in ordered if v > value)
    return value if beyond >= MIN_BEYOND else None


def cpu_ticks(path: str = "/proc/stat") -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` cpu line.
    Only the first eight fields (user .. steal) are summed: guest and
    guest_nice are already counted inside user and nice."""
    try:
        with open(path) as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    if len(vals) < 8:
        return None
    return vals[7], sum(vals)


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[1] == before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Samples the summed RSS of a process tree (the driver JVM and the
    Python workers it forks) every 0.2 s on a background thread;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(descendants(self.root_pid)))
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
