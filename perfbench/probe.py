"""Counters the benchmark reads from outside the package.

Everything here observes a running session without changing what it
computes:

- ``JobLedger``: the jobs and stages Spark finished since the last read,
  from the status tracker (job ids are sequential) and the UI's REST API
  (per-stage task metrics).  Read after every op, so UI retention never
  drops an unread stage.
- ``ProcCpu``: utime+stime and peak RSS of a process from ``/proc``.
- ``Py4jCounter``: calls and seconds spent in the py4j client, installed by
  wrapping the session's client object (traced runs only).
- ``StreamProgress``: a ``StreamingQueryListener`` that keeps every
  progress event (traced runs only; micro-batch jobs run on the stream's
  own thread, so the caller's job group never sees them).
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime
from urllib.parse import urlparse

_CLK = os.sysconf("SC_CLK_TCK")


def _ts(s: str | None) -> float | None:
    """REST timestamps look like ``2026-10-16T23:54:43.614GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float | None
    end: float | None
    stages: list[dict] = field(default_factory=list)


class JobLedger:
    """Jobs (with their completed stage attempts) finished since the last
    ``read``."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._tracker = sc.statusTracker()
        url = urlparse(sc.uiWebUrl)
        self._conn = http.client.HTTPConnection(url.hostname, url.port, timeout=30)
        self._prefix = f"/api/v1/applications/{sc.applicationId}"
        self._next_job = 0
        self._seen_stages: set[tuple[int, int]] = set()

    def _get(self, path: str):
        try:
            self._conn.request("GET", self._prefix + path)
            resp = self._conn.getresponse()
        except (http.client.HTTPException, OSError):
            self._conn.close()  # reconnect once: the UI closes idle connections
            self._conn.request("GET", self._prefix + path)
            resp = self._conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"REST {path}: HTTP {resp.status}")
        return json.loads(body)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event, so
        the status store holds the finished jobs and their stage metrics."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def read(self, detail: bool = False) -> list[Job]:
        """Jobs finished since the last read, each with its completed stage
        attempts.  ``detail`` adds each job's group and start/end times
        (one more REST call per job)."""
        self.drain()
        jobs: list[Job] = []
        misses = 0
        jid = self._next_job
        while misses < 3:  # job ids are dense; tolerate a short gap
            info = self._tracker.getJobInfo(jid)
            if info is None:
                misses += 1
                jid += 1
                continue
            if info.status == "RUNNING":
                break
            misses = 0
            job = Job(jid, None, None, None)
            for sid in info.stageIds:
                for attempt in self._get(f"/stages/{sid}?details=false"):
                    key = (attempt["stageId"], attempt["attemptId"])
                    if attempt["status"] in ("COMPLETE", "FAILED") and key not in self._seen_stages:
                        self._seen_stages.add(key)
                        job.stages.append(attempt)
            if detail:
                meta = self._get(f"/jobs/{jid}")
                job.group = meta.get("jobGroup")
                job.start = _ts(meta.get("submissionTime"))
                job.end = _ts(meta.get("completionTime"))
            jobs.append(job)
            jid += 1
            self._next_job = jid
        return jobs

    def close(self) -> None:
        self._conn.close()


def stage_totals(jobs: list[Job]) -> dict[str, float]:
    """Task metrics summed over the stages of ``jobs``."""
    t = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "failed_tasks", "input_bytes", "input_rows"),
        0.0,
    )
    t["jobs"] = float(len(jobs))
    for job in jobs:
        for s in job.stages:
            t["stages"] += 1
            t["tasks"] += s["numTasks"]
            t["task_run_s"] += s["executorRunTime"] / 1e3
            t["task_cpu_s"] += s["executorCpuTime"] / 1e9
            t["gc_s"] += s["jvmGcTime"] / 1e3
            t["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            t["shuffle_read_bytes"] += s["shuffleReadBytes"]
            t["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            t["failed_tasks"] += s["numFailedTasks"]
            t["input_bytes"] += s["inputBytes"]
            t["input_rows"] += s["inputRecords"]
    return t


def covered_seconds(jobs: list[Job], lo: float, hi: float) -> float:
    """Length of the union of the jobs' [start, end] intervals clipped to
    [lo, hi]."""
    spans = sorted(
        (max(j.start, lo), min(j.end, hi)) for j in jobs if j.start is not None and j.end is not None
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class ProcCpu:
    """CPU seconds (user+system) and peak RSS of one process, from /proc."""

    def __init__(self, pid: int) -> None:
        self.pid = pid

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _CLK  # utime, stime

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError(f"no VmHWM for pid {self.pid}")


class Py4jCounter:
    """Counts py4j round trips by wrapping the session's client object."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0
        self.seconds = 0.0

        def send_command(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return self._orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        self._client.send_command = send_command

    def snapshot(self) -> tuple[int, float]:
        return self.calls, self.seconds

    def close(self) -> None:
        self._client.send_command = self._orig


class StreamProgress:
    """Keeps every streaming progress event.  Events arrive asynchronously,
    so ``take`` first waits until every query the listener saw start has
    also been reported terminated."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self
        self.events: list[dict] = []
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with owner._cv:
                    owner._started.add(str(event.id))

            def onQueryProgress(self, event):
                with owner._cv:
                    owner.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with owner._cv:
                    owner._terminated.add(str(event.id))
                    owner._cv.notify_all()

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def take(self, timeout: float = 30.0) -> list[dict]:
        """Return (and forget) the progress events of every stream that has
        started, once each has been reported terminated."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while not self._started <= self._terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no termination event for {self._started - self._terminated}")
                self._cv.wait(left)
            out, self.events = self.events, []
            return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
