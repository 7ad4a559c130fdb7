"""Measurement from outside the engine: spans, Spark counters, RSS, CPU.

Spans are recorded by the benchmark around each call it makes into a
layer (name prefix = layer). They are kept in memory and written once at
the end. A span's self time is its duration minus its children's; a
layer's self time is the sum over its spans. Spark work is attributed to
spans by job-id deltas: the scheduler's job counter read at span start
and end.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import threading
import time
from collections import defaultdict


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float  # time.perf_counter()
    end: float
    parent: int | None
    cycle: int
    first_job: int | None  # scheduler job counter at start / end
    last_job: int | None


class Tracer:
    """Span recorder. ``instrumented`` asks the workload to install its
    timing wrappers; spans are recorded only while ``enabled``.
    ``count_jobs`` returns the Spark scheduler's submitted-job counter."""

    def __init__(self, count_jobs=None, instrumented: bool = True) -> None:
        self.instrumented = instrumented
        self.enabled = False
        self.count_jobs = count_jobs
        self.spans: list[Span] = []
        self.cycle = 0
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)  # reserve the id
        parent = stack[-1] if stack else None
        counter = self.count_jobs if jobs else None
        first = counter() if counter else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            last = counter() if counter else None
            self.spans[sid] = Span(sid, name, start, end, parent, self.cycle, first, last)

    def closed(self) -> list[Span]:
        return [s for s in self.spans if s is not None]


NO_TRACE = Tracer(instrumented=False)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per layer (span name up to the first dot)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name.split(".")[0]] += (s.end - s.start) - child[s.id]
    return dict(out)


def self_jobs(spans: list[Span]) -> dict[int, set[int]]:
    """Job ids submitted inside each span but in none of its children."""
    by_parent = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            by_parent[s.parent].append(s)
    out = {}
    for s in spans:
        if s.first_job is None:
            continue
        ids = set(range(s.first_job, s.last_job))
        for c in by_parent[s.id]:
            if c.first_job is not None:
                ids -= set(range(c.first_job, c.last_job))
        out[s.id] = ids
    return out


def write_spans(path: str, spans: list[Span], extra: dict) -> None:
    with open(path, "w") as f:
        json.dump({"spans": [dataclasses.asdict(s) for s in spans], **extra}, f)


class SparkCounters:
    """Read-only view of the Spark driver's job counter and status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._scheduler = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.cores = sc.defaultParallelism

    def job_count(self) -> int:
        """Jobs submitted so far; the next job gets this id."""
        return self._scheduler.numTotalJobs()

    def totals(self, job_ids) -> dict[str, float]:
        """Tasks and stage metrics summed over the stages the given jobs ran."""
        job_ids = set(job_ids)
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stage_ids = {sid for j in jobs if j["jobId"] in job_ids for sid in j["stageIds"]}
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        out = dict.fromkeys(
            ("tasks", "shuffle_write_bytes", "input_bytes", "executor_run_ms", "gc_ms"), 0.0
        )
        for st in stages:
            if st["stageId"] not in stage_ids or st["status"] != "COMPLETE":
                continue
            out["tasks"] += st["numCompleteTasks"]
            out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["input_bytes"] += st["inputBytes"]
            out["executor_run_ms"] += st["executorRunTime"]
            out["gc_ms"] += st["jvmGcTime"]
        out["jobs"] = float(len(job_ids))
        return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class RssSampler:
    """One thread sampling resident memory of this process plus the given
    child (the JVM) every ``interval`` seconds; keeps the peak sum."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.child_pid: int | None = None
        self.peak = 0
        self.peaks = [0, 0]  # this process, the child
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        own = _rss_bytes(os.getpid())
        child = _rss_bytes(self.child_pid) if self.child_pid is not None else 0
        self.peak = max(self.peak, own + child)
        self.peaks = [max(self.peaks[0], own), max(self.peaks[1], child)]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
