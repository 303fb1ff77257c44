"""Measurement helpers: latency statistics, peak RSS from /proc, and the
tracer used by the traced run (spans and Spark job/task counts)."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

now = time.perf_counter


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile by rank). Below 21 samples such a percentile would
    sit at or below the median; the highest with one sample beyond it (the
    second-highest sample) is reported instead, so that one stray sample
    does not set the tail. A single sample is its own tail."""
    s = sorted(xs)
    n = len(s)
    beyond = 10 if n >= 21 else min(1, n - 1)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, rest = stat.rsplit(")", 1)
        out[int(d)] = (int(rest.split()[1]), head.split("(", 1)[1])
    return out


def children(procs: dict[int, tuple[int, str]] | None = None) -> dict[int, list[int]]:
    """parent pid -> child pids, over ``procs`` (default: every process)."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in (procs or _procs()).items():
        kids.setdefault(ppid, []).append(pid)
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of the Spark JVM (this process's child) and
    the Python worker daemon and workers below it. The benchmark's own
    interpreter is not counted, nor are the short-lived helpers the JVM
    spawns (Hadoop runs ``chmod``/``readlink`` for checkpoint files): until
    they exec, they share the JVM's pages and report them as their own."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.samples: list[tuple[float, int]] = []  # (wall time, kB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        procs = _procs()
        kids = children(procs)
        me = os.getpid()
        todo, total = list(kids.get(me, [])), 0
        while todo:
            pid = todo.pop()
            ppid, comm = procs[pid]
            if ppid == me or comm.startswith("python"):
                total += _rss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.samples.append((time.time(), total))

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def peak_mb(self, t0: float, t1: float) -> float:
        """Peak over the samples taken between wall times t0 and t1."""
        return max((kb for t, kb in self.samples if t0 <= t <= t1), default=0) / 1024.0


class Tracer:
    """Spans and Spark job/task counts for the traced run. Disabled, every
    method is a no-op, so the untraced run pays nothing for it.

    A span records name, id, parent, start and end (seconds since the
    tracer was made). Spans of one micro-batch or one delta share an id.
    Spans stay in memory until ``dump``. ``cost_s`` sums the time spent in
    the tracer's own Spark status queries, the part of tracing that runs
    on the measured path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = now()
        self.spans: list[dict] = []
        self.series: dict[str, list] = {}
        self.cost_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, sid: str, parent: str | None = None):
        if not self.enabled:
            yield
            return
        start = now() - self.t0
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "id": sid, "parent": parent,
                 "start": start, "end": now() - self.t0}
            )

    def job_ids(self, spark, group: str) -> set[int]:
        if not self.enabled:
            return set()
        t = now()
        ids = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.cost_s += now() - t
        return ids

    def jobs_and_tasks(self, spark, job_ids) -> tuple[int, int]:
        """(jobs, tasks) over the given job ids, counting the tasks that
        ran in each job's stages."""
        t = now()
        tracker = spark.sparkContext.statusTracker()
        tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numActiveTasks + st.numFailedTasks
        self.cost_s += now() - t
        return len(job_ids), tasks

    def dump(self, path: str, extra: dict) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "series": self.series, **extra}, f)
