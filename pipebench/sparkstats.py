"""Measurements read from outside the pipeline: Spark's app status store
(per-job task time, shuffle and spill) and the resident memory of the
Spark JVM plus its Python workers."""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError


class JobLog:
    """Per-job records from the app status store (works with
    spark.ui.enabled=false).  A Spark stage is counted once, in the first
    job that lists it: later jobs that reuse a shuffle list the stage
    again as skipped."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.last_job = -1

    def _jobs(self) -> list:
        # the store is fed asynchronously by the listener bus
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jobs = [j for j in self.conv.asJava(store.jobsList(None)) if j.jobId() > self.last_job]
        self.last_job = max([j.jobId() for j in jobs], default=self.last_job)
        return sorted(jobs, key=lambda j: j.jobId())

    def mark(self) -> None:
        """Skip every job so far (e.g. the warm-up run)."""
        self._jobs()

    def collect(self) -> list[dict]:
        """Records of the jobs submitted since the last call."""
        store = self.jsc.statusStore()
        seen: set[int] = set()
        out = []
        for j in self._jobs():
            group = j.jobGroup()
            rec = {
                "group": group.get() if group.isDefined() else None,
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": (
                    j.completionTime().get().getTime() / 1000.0
                    if j.completionTime().isDefined() else time.time()
                ),
                "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
            }
            for sid in self.conv.asJava(j.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # no attempt recorded
                    continue
                rec["task_s"] += s.executorRunTime() / 1000.0
                rec["shuffle_mb"] += s.shuffleWriteBytes() / 1e6
                rec["spill_mb"] += s.diskBytesSpilled() / 1e6
            out.append(rec)
        return out


PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    """Resident set size from the kernel's counters: constant cost, where
    walking the pages of a multi-GB JVM (smaps_rollup) takes tens of ms."""
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it, so the forked Python workers'
    shared pages are not counted once per worker."""
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> set[int]:
    """Child processes of every thread of `pid`.  A thread id can show
    up there too (/proc resolves it like a pid), so only thread-group
    leaders count as processes."""
    kids: set[int] = set()
    try:
        for task in Path(f"/proc/{pid}/task").iterdir():
            kids.update(int(c) for c in (task / "children").read_text().split())
    except OSError:
        pass
    return {k for k in kids if _tgid(k) == k}


def _tgid(pid: int) -> int | None:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("Tgid:"):
                return int(line.split()[1])
    except OSError:
        pass
    return None


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


class PeakRss:
    """Samples the resident memory of the JVM `root` (RSS) plus its
    descendant processes (PSS) every INTERVAL seconds while active;
    `peak_mb` is the highest sum seen, `jvm_peak_mb` and
    `workers_peak_mb` the highest of each part.

    Finding the JVM's child processes means reading a file per JVM
    thread (hundreds), so that scan runs every RESCAN seconds; the Python
    daemon it finds is long-lived and its forked workers are read every
    sample.  A child still running the JVM's executable is a fork or
    vfork child that has not exec'd yet; it maps the JVM's memory, so it
    is skipped rather than counted twice."""

    INTERVAL = 0.1
    RESCAN = 1.0

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.root_exe = _exe(root_pid)
        self.peak_mb = self.jvm_peak_mb = self.workers_peak_mb = 0.0
        self._kids: set[int] = set()
        self._scanned = float("-inf")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        now = time.monotonic()
        if now - self._scanned >= self.RESCAN:
            self._kids = {k for k in _children(self.root) if _exe(k) != self.root_exe}
            self._scanned = now
        workers, todo, seen = 0, list(self._kids), set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            workers += _pss_kb(pid)
            todo += _children(pid)
        jvm = _rss_kb(self.root)
        self.peak_mb = max(self.peak_mb, (jvm + workers) / 1024.0)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm / 1024.0)
        self.workers_peak_mb = max(self.workers_peak_mb, workers / 1024.0)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


class HeapPeak:
    """Peak use of the JVM's heap pools over a `with` block, from the
    JVM's own pool counters (reset on entry).  The pools peak at
    different moments, so their sum bounds the heap's peak from above."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self.pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]
        self.peak_mb = 0.0

    def __enter__(self) -> HeapPeak:
        for p in self.pools:
            p.resetPeakUsage()
        return self

    def __exit__(self, *exc) -> None:
        self.peak_mb = sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6
