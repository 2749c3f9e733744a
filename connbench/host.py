"""Host and configuration stamp, and process-tree memory sampling."""

from __future__ import annotations

import os
import platform
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every descendant — the
    Python driver, the JVM and its Python workers."""
    kids = _children()
    todo = [root or os.getpid()]
    out = []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def rss_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:  # the process has ended
            continue
    return kb / 1024.0


def tree_rss_mb() -> float:
    return rss_mb(tree_pids())


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s
    in a background thread; ``stop()`` returns the peak in MB. The tree
    is re-listed only every ``relist`` samples: a full /proc scan holds
    the interpreter lock long enough to slow the sink's driver code."""

    def __init__(self, interval: float = 0.5, relist: int = 4):
        self.interval = interval
        self.relist = relist
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="connbench-rss", daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while True:
            if n % self.relist == 0:
                pids = tree_pids()
            n += 1
            self.peak = max(self.peak, rss_mb(pids))
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())
        return self.peak


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def stamp(spark, sink: dict) -> dict:
    """What a result depends on besides the code: host, engine, sink."""
    import pyspark

    sc = spark.sparkContext
    return {
        "host": platform.node(),
        "nproc": nproc(),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "sink": sink,
    }
