"""Spans, Spark-work attribution and the benchmark's own arithmetic.

A traced pass opens one span around each call into an engine layer. Spans
live in memory (name, start, end, parent, pass id) and each span's id is
set as the Spark job group while it is open, so every Spark job the call
runs carries the id of the innermost open span. After the pass the
monitoring REST API of the driver (``/jobs``, ``/stages``, ``/sql``) is
read once, and jobs and stage metrics are attributed to spans by job
group. Index-metadata jobs are recognised from the SQL plan text, which
names the ``_*_meta`` / ``_idx_kind`` paths they read or write.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import re
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float | None:
    """Nearest-rank ``q``-quantile, or None unless at least ten samples lie
    beyond it: a tail percentile read off fewer points is mostly noise."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < 10:
        return None
    return float(xs[rank - 1])


OK, REFUSED_AS_EXPECTED, REFUSED, FAILED, WRONG = (
    "ok", "refused_as_expected", "refused", "failed", "wrong",
)


def outcomes(ops, checks) -> list[str]:
    """One outcome per op ``(name, seconds, outcome)``; an op whose output
    failed a check ``(name, ok, message)`` of the same name is wrong, and a
    failed check that names no op counts as one more wrong op."""
    bad = {n for n, ok, _ in checks if not ok}
    out = [WRONG if o == OK and n in bad else o for n, _, o in ops]
    return out + [WRONG] * len(bad - {n for n, _, _ in ops})


def error_rate(outcomes) -> float:
    """Failed, wrong or unexpectedly refused ops over ops attempted. A
    refusal the workload asked for (a replayed append) is a correct answer."""
    outcomes = list(outcomes)
    if not outcomes:
        raise ValueError("error_rate of zero attempted ops")
    bad = sum(o in (REFUSED, FAILED, WRONG) for o in outcomes)
    return bad / len(outcomes)


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    sid: str
    layer: str
    phase: str
    start: float  # epoch seconds, comparable with the REST timestamps
    end: float
    parent: str | None
    pass_id: int
    key: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def merge(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals]
    return sum(b - a for a, b in merge((a, b) for a, b in clipped if b > a))


def self_times(spans) -> dict[str, float]:
    """Span duration minus the part of it covered by its children; children
    that overlap each other are counted once."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - covered(kids.get(s.sid, []), s.start, s.end) for s in spans}


class Tracer:
    """Records spans; with ``enabled=False`` every span is a no-op so the
    untraced passes run exactly the calls a user would make."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.pass_id = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        self.overhead_s = 0.0  # time spent in tracing-only work
        self._charging = 0

    @contextlib.contextmanager
    def charged(self):
        """Time spent in the block counts as tracing overhead (work only a
        traced pass does, such as forcing a physical plan)."""
        t0 = time.perf_counter()
        self._charging += 1
        try:
            yield
        finally:
            self._charging -= 1
            if not self._charging:  # nested blocks count once
                self.overhead_s += time.perf_counter() - t0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.sid, f"{span.layer}.{span.phase}")

    @contextlib.contextmanager
    def span(self, layer: str, phase: str, key: str | None = None):
        if not self.enabled:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(f"pb{self._n}", layer, phase, time.time(), 0.0,
                 parent.sid if parent else None, self.pass_id, key)
        self._stack.append(s)
        if self.sc is not None:
            with self.charged():
                self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                with self.charged():
                    self._set_group(parent)
            self.spans.append(s)

    def wrap(self, fn, layer: str, phase: str):
        """``fn`` with a span around every call (for engine functions that
        other engine functions call, such as ``catalog.load_table``)."""
        tracer = self

        def traced(*a, **kw):
            with tracer.span(layer, phase):
                return fn(*a, **kw)

        return traced


# ---------------------------------------------------------------------------
# Spark monitoring REST API


def _rest_time(s: str | None) -> float | None:
    # e.g. "2026-10-17T02:44:00.123GMT"
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Rest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout: float = 10.0) -> list[dict]:
        """All jobs, once the status listener has caught up: no job running
        and the job count unchanged across two reads."""
        deadline = time.monotonic() + timeout
        prev = None
        while True:
            jobs = self.get("/jobs")
            done = all(j["status"] not in ("RUNNING", "UNKNOWN") for j in jobs)
            if done and prev == len(jobs) or time.monotonic() > deadline:
                return jobs
            prev = len(jobs) if done else None
            time.sleep(0.1)

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def new_sql(self) -> list[dict]:
        """SQL executions not returned by an earlier call, with plan text."""
        out = self.get(f"/sql?details=true&planDescription=true&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(out)
        return out


META_PATH = re.compile(r"/(_[a-z0-9]+_meta|_idx_kind)\b")


def meta_job_ids(sql_execs) -> set[int]:
    """Jobs of SQL executions whose plan reads or writes an index-metadata
    path. Schema-inference jobs of a metadata read belong to no SQL
    execution; callers attribute those by job group instead."""
    ids: set[int] = set()
    for e in sql_execs:
        if META_PATH.search(e.get("planDescription") or "") or META_PATH.search(e.get("description") or ""):
            for k in ("successJobIds", "failedJobIds", "runningJobIds"):
                ids.update(e.get(k) or [])
    return ids


PYTHON_EVAL = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|ArrowAggregatePython|WindowInPandas|ArrowWindowPython)"
)


def python_eval_nodes(plan: str) -> int:
    return len(PYTHON_EVAL.findall(plan))


@dataclass
class JobInfo:
    job_id: int
    group: str | None
    start: float
    end: float
    stages: list[dict]
    meta: bool = False


def attribute(jobs: list[dict], stages: list[dict], meta_ids: set[int]) -> dict[str, list[JobInfo]]:
    """Jobs by span id (job group), each with the stage attempts it ran. A
    stage listed by several jobs ran in the first of them; the others
    skipped it."""
    by_stage: dict[int, list[dict]] = {}
    for st in stages:
        if st.get("status") in ("COMPLETE", "FAILED"):
            by_stage.setdefault(st["stageId"], []).append(st)
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, j["jobId"])
    out: dict[str, list[JobInfo]] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if not g or not g.startswith("pb"):
            continue
        start = _rest_time(j.get("submissionTime"))
        end = _rest_time(j.get("completionTime")) or start
        if start is None:
            continue
        sts = [st for sid in j.get("stageIds", []) if owner.get(sid) == j["jobId"]
               for st in by_stage.get(sid, [])]
        out.setdefault(g, []).append(JobInfo(j["jobId"], g, start, end, sts, j["jobId"] in meta_ids))
    return out


def stage_sum(jobs, key: str) -> float:
    return float(sum(st.get(key, 0) or 0 for j in jobs for st in j.stages))


# ---------------------------------------------------------------------------
# resident memory of the driver's process tree, without psutil


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the driver's
    Python process, its JVM and the JVM's Python workers). Each process
    counts its proportional share (Pss) of pages it shares with others, so
    forked Python workers do not count their parent's pages again."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by ``root``'s live process tree,
    including children those processes have already reaped."""
    kids = _children()
    todo, ticks = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of :func:`tree_rss_kb`; ``take_peak`` returns the
    peak since the previous call."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            kb = tree_rss_kb(pid)
            with self._lock:
                self._peak = max(self._peak, kb)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def take_peak(self) -> float:
        kb = tree_rss_kb(os.getpid())
        with self._lock:
            peak, self._peak = max(self._peak, kb), 0
        return peak / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
