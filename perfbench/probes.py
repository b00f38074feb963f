"""Measurement helpers that observe the program from outside.

* ``Tracer``: spans around calls into the program's public functions
  (name, start, end, parent, run id), kept in memory and written with
  the run's detail file. A span can also tag the Spark jobs it starts
  with a job group, so their stage metrics can be fetched afterwards.
* ``StageMetrics``: task run time, shuffle bytes and task-time skew per
  job group, read from the driver's own status REST endpoint
  (``/api/v1`` on the local Spark UI port).
* ``RssSampler``: peak summed RSS of the Spark Python worker processes
  descended from this process, sampled from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans around public calls; a no-op when disabled."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.epoch0 = time.time()

    @contextmanager
    def span(self, name: str, sc=None):
        """Record one span; with ``sc`` the Spark jobs started inside it
        run under the job group the span's ``job_group`` names."""
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        if sc is not None:
            rec["job_group"] = f"{self.run_id}:{idx}:{name}"
            sc.setJobGroup(rec["job_group"], name)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


class StageMetrics:
    """Per-job-group stage metrics from the local status REST API."""

    def __init__(self, sc):
        url = urllib.parse.urlsplit(sc.uiWebUrl)
        # the UI binds every interface; always ask over loopback
        self.base = (f"http://127.0.0.1:{url.port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def job_group(self, group: str, settle_s: float = 5.0) -> dict:
        """Summed task run time (s), shuffle write (bytes) and the
        max/median task run time of the heaviest stage, over every
        completed stage of the group's jobs."""
        deadline = time.time() + settle_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)   # listener bus still posting the last events
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            stages += [a for a in self._get(f"/stages/{sid}")
                       if a["status"] == "COMPLETE"]
        out = {"jobs": len(jobs), "stages": len(stages),
               "task_run_s": sum(a["executorRunTime"] for a in stages) / 1e3,
               "shuffle_write_bytes": sum(a["shuffleWriteBytes"] for a in stages),
               "task_max_over_median": None}
        if stages:
            heavy = max(stages, key=lambda a: a["executorRunTime"])
            q = self._get(f"/stages/{heavy['stageId']}/{heavy['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            out["task_max_over_median"] = q[1] / q[0] if q[0] else None
        return out


def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue        # exited between listdir and open
        state, ppid = stat.rsplit(b")", 1)[1].split()[:2]
        if state != b"Z":           # an exited, unreaped child holds nothing
            children.setdefault(int(ppid), []).append(int(name))
    return children


def descendants(root_pid: int) -> list[int]:
    """Pids of every live process below ``root_pid``."""
    children = _proc_children()
    out: list[int] = []
    stack = list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += children.get(pid, [])
    return out


def python_worker_rss_bytes(root_pid: int) -> int:
    """Summed RSS of the ``pyspark.daemon``/worker processes that
    descend from ``root_pid``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue        # exited while being read
    return total


class RssSampler:
    """Background sampler of the Python workers' summed RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            rss = python_worker_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take_peak(self) -> int:
        """Peak since the previous call, then reset."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, without Hadoop's ``.crc`` files."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".crc"):
                continue
            n_bytes += os.path.getsize(os.path.join(root, fn))
            n_files += 1
    return n_bytes, n_files
