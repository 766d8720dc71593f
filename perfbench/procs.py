"""The benchmark's process tree: peak memory and clean shutdown.

The tree is this Python process, the Spark JVM it launches and the Python
workers the JVM forks. Linux ``/proc`` only; no third-party packages.

Memory outside the JVM heap is the proportional set size (PSS): resident
pages, each shared page split among the processes that map it. Python
workers are forked from one daemon and share most of their pages with it,
so summed RSS counts those pages once per worker and swung with how many
workers happened to be alive.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass  # the process ended between listing and reading
    return 0


class PeakMemory:
    """Peak memory of the tree while recording: the benchmark process, the
    Spark JVM and its Python workers.

    A daemon thread samples the summed PSS of the tree. The JVM's heap is
    fixed and pre-touched, so its resident pages read the same however much
    heap the program uses; they are taken out of each sample and the JVM's
    peak used heap over the recording (the sum of the heap pools' peaks,
    reset after a collection when recording starts) is added in their
    place: about what the tree's peak resident size would be had the heap
    grown on demand. ``peak_mb`` is the largest sample of the tree outside
    the heap plus that heap peak. Between its collections the JVM lets
    garbage fill the heap, so a workload that allocates more than the heap
    holds reads the whole heap here, as its resident size would."""

    def __init__(self, spark, interval_s: float = 0.5) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._heap = mf.getMemoryMXBean()
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        ]
        self.heap_committed_bytes = 0
        self.heap_peak_bytes = 0
        self.outside_heap_peak_bytes = 0
        self.peak_detail: dict[int, int] = {}
        self._interval = interval_s
        self._recording = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        me = os.getpid()
        per_pid = {p: _pss_bytes(p) for p in [me] + descendants(me)}
        outside_heap = sum(per_pid.values()) - self.heap_committed_bytes
        if outside_heap > self.outside_heap_peak_bytes:
            self.outside_heap_peak_bytes, self.peak_detail = outside_heap, per_pid

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._recording.wait(self._interval):
                self._sample()
                self._stop.wait(self._interval)

    def start(self) -> None:
        # collect first, so that garbage left from set-up does not count
        self._heap.gc()
        self.heap_committed_bytes = int(self._heap.getHeapMemoryUsage().getCommitted())
        for pool in self._heap_pools:
            pool.resetPeakUsage()
        self._sample()
        self._recording.set()

    def stop(self) -> None:
        self._recording.clear()
        self._sample()
        self.heap_peak_bytes = int(sum(p.getPeakUsage().getUsed() for p in self._heap_pools))

    def close(self) -> None:
        self._stop.set()
        self._recording.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return (self.outside_heap_peak_bytes + self.heap_peak_bytes) / 2**20


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    alive = tree
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
