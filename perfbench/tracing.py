"""Tracing for the traced run: spans around public calls, Spark counters
per job group.

Spans are recorded from the benchmark's side of each layer boundary: a
wrapper set on the module or class attribute the program looks up at call
time.  Each span carries the operation (HTTP request, query) that caused
it, taken from a thread-local set when the operation starts, so calls on
the HTTP handler threads are attributed to their own request.  Spans stay
in memory and are summarised when the run ends.

Spark counters come from the application's REST status API (the UI is on
for traced runs only): every job carries the job group the benchmark set
for its operation, and each job's stages give tasks, executor run time and
shuffle bytes.
"""

from __future__ import annotations

import calendar
import functools
import json
import threading
import time
import urllib.request


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, str | None, float, float]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- operations ---------------------------------------------------------
    def begin(self, op: str) -> None:
        self._local.op = op

    def end(self) -> None:
        self._local.op = None

    @property
    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    def record(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append((name, self.op, t0, t1))

    # -- wrapping -----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, start_op=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method) with
        a wrapper recording one span per call.  ``start_op``, if given, is
        called as each call starts and returns the operation that call, and
        every span under it on the same thread, belongs to."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if start_op is not None:
                self.begin(start_op())
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.record(name, t0, time.perf_counter())
                if start_op is not None:
                    self.end()

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries ----------------------------------------------------------
    def total_ms(self, name: str) -> float:
        return sum(t1 - t0 for n, _, t0, t1 in self.spans if n == name) * 1000.0

    def count(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def _epoch_s(stamp: str | None) -> float | None:
    """REST time stamps look like ``2024-01-01T00:00:00.123GMT``."""
    if not stamp:
        return None
    base, ms = stamp.rstrip("GMT").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000.0


def job_group_counters(spark, wait_s: float = 10.0) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, summed job wall (ms), executor
    run time (ms), shuffle read+write bytes and each job's submission time.

    The status store is fed asynchronously, so wait (bounded) until no job
    is still running before reading it."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + wait_s
    jobs = _rest(f"{base}/jobs")
    while any(j["status"] == "RUNNING" for j in jobs) and time.monotonic() < deadline:
        time.sleep(0.2)
        jobs = _rest(f"{base}/jobs")
    stages = {}
    for st in _rest(f"{base}/stages"):
        if st.get("status") == "SKIPPED":
            continue
        agg = stages.setdefault(st["stageId"], {"tasks": 0, "run_ms": 0, "shuffle": 0})
        agg["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        agg["run_ms"] += st.get("executorRunTime", 0)
        agg["shuffle"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
    out: dict[str, dict] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if not g:
            continue
        c = out.setdefault(g, {"jobs": 0, "stages": 0, "tasks": 0, "job_ms": 0.0,
                               "run_ms": 0, "shuffle_bytes": 0, "submitted": []})
        c["jobs"] += 1
        sub, done = _epoch_s(j.get("submissionTime")), _epoch_s(j.get("completionTime"))
        c["submitted"].append(sub)
        if sub is not None and done is not None:
            c["job_ms"] += (done - sub) * 1000.0
        for sid in j.get("stageIds", []):
            if sid in stages:
                c["stages"] += 1
                c["tasks"] += stages[sid]["tasks"]
                c["run_ms"] += stages[sid]["run_ms"]
                c["shuffle_bytes"] += stages[sid]["shuffle"]
    return out


def plan_ms(df) -> float:
    """Catalyst time of a DataFrame's executed plan: the analysis,
    optimization and planning phases its query tracker recorded."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total
