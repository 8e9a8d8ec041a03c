"""Host and process records: CPU steal, host speed, peak RSS of the
process tree, and the environment a run measured on."""

from __future__ import annotations

import os
import platform
import threading
import time


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, or (0, 0) off Linux."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = fh.readline().split()[1:]
    except OSError:
        return 0, 0
    vals = [int(v) for v in fields[:8]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def calibrate_ms(reps: int = 3) -> float:
    """Host speed: the fastest of ``reps`` timings of a fixed CPU-bound
    loop, in ms. Taken at the start and end of every run, so a run made
    while the shared host was slow can be recognized."""
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return 1000.0 * best


def _tree_rss_kb(root: int) -> int:
    """Resident set of ``root`` and every descendant (the Spark JVM and
    its Python workers), summed from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm", encoding="ascii") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(5)

    def _run(self) -> None:
        while True:
            try:
                self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            except OSError:
                pass
            if self._stop.wait(self.period):
                return


def environment(spark) -> dict:
    conf = spark.sparkContext.getConf()
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_memory": conf.get("spark.driver.memory", ""),
    }
