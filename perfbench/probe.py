"""Measurement helpers shared by the workloads: percentiles, the RSS sampler,
Spark's own status counters and the in-memory span recorder of traced runs.

Nothing here runs inside the program's code: spans wrap the calls the
benchmark makes into the package, and counters come from records Spark keeps
anyway (the status store, streaming progress, /proc).
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import threading
import time

import numpy as np

#: percentile ladder for "the highest percentile with at least ten samples beyond it"
_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def tail_level(n: int) -> float:
    """Highest ladder percentile that leaves at least ten samples beyond it;
    the median when there are too few samples for any."""
    for q in _LADDER:
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return 50.0


def timing(values) -> dict:
    """Median plus the highest well-supported percentile, with the sample count."""
    q = tail_level(len(values))
    return {"n": len(values), "p50": pct(values, 50), "tail_q": q, "tail": pct(values, q)}


# ------------------------------------------------------------------- RSS --

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _start_time(pid: int) -> int | None:
    """Start time of a live process, None once it has ended (a zombie has
    ended). With the pid it names one process even if the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().rsplit(b")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == b"Z" else int(fields[19])


def process_tree(root: int) -> set[tuple[int, int]]:
    """Every live process below `root`, as (pid, start time)."""
    out = set()
    for pid in _descendants(root):
        start = _start_time(pid)
        if pid != root and start is not None:
            out.add((pid, start))
    return out


def end_processes(procs: set[tuple[int, int]], grace_s: float = 10.0) -> None:
    """Wait until each process has ended: SIGTERM to those still running,
    SIGKILL to those left after `grace_s`. They need not be our children
    (Spark's Python daemon is the JVM's), so ends are seen in /proc."""
    def alive():
        return {(pid, st) for pid, st in procs if _start_time(pid) == st}

    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        left = alive()
        for pid, _ in left:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.02)
            left = alive()
        if not left:
            return
    raise RuntimeError(f"processes still running: {sorted(pid for pid, _ in alive())}")


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory of the driver JVM and every process below it
    (the Python workers), sampled from /proc while `active`."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        self._root = root_pid
        self._period = period_s
        self._stop = threading.Event()
        self._active = threading.Event()
        self.peak_bytes = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids: list[int] = []
        k = 0
        while not self._stop.wait(self._period):
            if not self._active.is_set():
                continue
            if k % 4 == 0:
                pids = _descendants(self._root)
            k += 1
            self.peak_bytes = max(self.peak_bytes, _rss_bytes(pids))

    @contextlib.contextmanager
    def active(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ----------------------------------------------------------- host steal --


def cpu_times() -> list[int]:
    """The machine's CPU time counters from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time this VM asked for that the host gave to someone
    else between two cpu_times() readings. On a shared host it explains runs
    that are slow in every phase at once."""
    d = [b - a for a, b in zip(before, after)]
    wanted = sum(d) - d[3] - d[4]
    return d[7] / wanted if wanted > 0 else 0.0


# -------------------------------------------------------- Spark counters --


class SparkCounters:
    """Stage and job totals from Spark's status store (works with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()

    def _stages(self):
        stages = self._store.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        it = stages.iterator()
        while it.hasNext():
            yield it.next()

    def mark(self) -> tuple[int, int]:
        """Highest stage and job ids so far; totals() counts what comes after."""
        s = max((d.stageId() for d in self._stages()), default=-1)
        jobs = self._store.jobsList(None)
        j = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        return s, j

    def totals(self, since: tuple[int, int]) -> dict[str, float]:
        stage0, job0 = since
        jobs = self._store.jobsList(None)
        n_jobs = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > job0)
        out = dict.fromkeys(
            ("tasks", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
             "executor_cpu_s", "gc_s", "spill_bytes"), 0.0)
        skew = 1.0
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for d in self._stages():
            if d.stageId() <= stage0:
                continue
            out["tasks"] += d.numTasks()
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["input_bytes"] += d.inputBytes()
            out["executor_cpu_s"] += d.executorCpuTime() / 1e9
            out["gc_s"] += d.jvmGcTime() / 1e3
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            if d.numTasks() >= 2:
                summ = self._store.taskSummary(d.stageId(), d.attemptId(), q)
                if summ.isDefined():
                    run = summ.get().executorRunTime()  # Scala seq: (median, max)
                    if run.apply(0) > 0:
                        skew = max(skew, run.apply(1) / run.apply(0))
        out["jobs"] = float(n_jobs)
        out["task_skew"] = skew
        return {f"spark.{k}": v for k, v in out.items()}

    def job_submissions(self, job_ids) -> dict[int, float]:
        """Submission time (epoch seconds) of each job the store still holds."""
        out = {}
        for jid in job_ids:
            sub = self._store.job(int(jid)).submissionTime()
            if sub.isDefined():
                out[int(jid)] = sub.get().getTime() / 1e3
        return out


# ----------------------------------------------------------------- spans --


class Tracer:
    """Spans kept in memory and written out once, at the end of the run.
    Disabled, every call is a no-op, so measured runs carry no tracing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        """Yields the span record (None when disabled); callers may add
        counts to it. `parent` is the enclosing span's record."""
        if not self.enabled:
            yield None
            return
        self._next += 1
        rec = {"id": self._next, "parent": parent["id"] if parent else None,
               "name": name, "start": time.time(), **attrs}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
