"""Per-layer measurement for the traced run (``--trace 1``).

Everything here observes the engine from outside:

* ``Calls`` wraps public functions of a layer (the catalog's methods)
  and counts calls and summed seconds, across threads;
* ``JobCounter`` reads job, stage and task counts from
  ``SparkContext.statusTracker()`` as job-id deltas — the engine's pool
  threads carry no job group, so ids are the only handle;
* ``StackSampler`` samples the driver thread's stack and maps each
  frame's ``file:line`` to a method through the line ranges ``inspect``
  reads from the engine's source at run time (``SourceMap``), which
  tells the crawl phase the driver is in at every moment;
* ``EventLog`` parses the Spark event log that the traced run's conf
  dir enables. It attributes each job to a crawl phase by its callsite
  ``file:line`` through the same ``SourceMap`` (or, for jobs PySpark
  gives no Python callsite, by the sampled phase at submission), and
  marks Python-boundary stages by the operator scopes of their RDDs;
* ``eventlog_cpu_s`` reads the CPU time of the JVM thread that writes
  the event log, which with the sampler's own CPU time is what tracing
  costs a run.
"""

from __future__ import annotations

import bisect
import collections
import functools
import glob
import inspect
import json
import os
import re
import sys
import threading
import time

# Python-boundary physical operators (mapInPandas, pandas UDFs,
# applyInPandas, cogroup.applyInPandas, Arrow-batched UDFs)
PY_SCOPE = re.compile(r"InPandas|InArrow|EvalPython")
# Spark's listener-bus thread that serves the event-log queue
EVENTLOG_THREAD = "spark-listener-group-eventLog"
PHASES = ("select", "execute", "dedup", "compact", "other")


class Calls:
    """Call counts and summed durations of wrapped functions."""

    def __init__(self):
        self._lock = threading.Lock()
        self.n = collections.Counter()
        self.s = collections.Counter()
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, name: str, key: str) -> None:
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.n[key] += 1
                    self.s[key] += dt

        self._undo.append((owner, name, orig))
        setattr(owner, name, wrapped)

    def snapshot(self) -> tuple[collections.Counter, collections.Counter]:
        with self._lock:
            return collections.Counter(self.n), collections.Counter(self.s)

    def unwrap(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()


def eventlog_cpu_s(sc) -> float:
    """CPU seconds the JVM's event-log writer thread has used so far
    (0 while the event log is off)."""
    mx = sc._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    ns = 0
    for tid in mx.getAllThreadIds():
        info = mx.getThreadInfo(tid)
        if info is not None and info.getThreadName() == EVENTLOG_THREAD:
            ns += max(mx.getThreadCpuTime(tid), 0)
    return ns / 1e9


def delta(after: collections.Counter, before: collections.Counter) -> dict:
    return {k: after[k] - before.get(k, 0) for k in after}


class JobCounter:
    """Jobs, executed stages, tasks and failed tasks since the last
    ``take()``, from the status tracker's job ids."""

    def __init__(self, sc):
        self.st = sc.statusTracker()
        self.last = max(self.st.getJobIdsForGroup(None), default=-1)

    def take(self) -> dict:
        ids = sorted(j for j in self.st.getJobIdsForGroup(None)
                     if j > self.last)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        seen: set[int] = set()
        for j in ids:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                si = self.st.getStageInfo(sid)
                # a stage whose shuffle output is reused is skipped: it
                # is listed by the job but runs no task
                if (sid in seen or si is None
                        or si.numCompletedTasks + si.numFailedTasks == 0):
                    continue
                seen.add(sid)
                out["stages"] += 1
                out["tasks"] += si.numTasks
                out["failed_tasks"] += si.numFailedTasks
        if ids:
            self.last = ids[-1]
        return out


class SourceMap:
    """``file:line`` → qualified name of the innermost module-level
    function or method whose source spans that line."""

    def __init__(self, modules):
        self.ranges: dict[str, list[tuple[int, int, str]]] = {}
        for mod in modules:
            for obj in vars(mod).values():
                members = []
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    members.append((obj.__qualname__, obj))
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    for v in vars(obj).values():
                        if inspect.isfunction(v):
                            members.append((v.__qualname__, v))
                for qual, fn in members:
                    if fn.__code__.co_filename != mod.__file__:
                        continue  # generated (e.g. dataclass) methods
                    lines, start = inspect.getsourcelines(fn)
                    path = os.path.realpath(fn.__code__.co_filename)
                    self.ranges.setdefault(path, []).append(
                        (start, start + len(lines) - 1, qual))
        self._memo: dict[tuple[str, int], str | None] = {}

    def lookup(self, callsite: str) -> str | None:
        m = re.search(r" at (.+):(\d+)$", callsite or "")
        return self.lookup_line(m.group(1), int(m.group(2))) if m else None

    def lookup_line(self, path: str, line: int) -> str | None:
        key = (path, line)
        if key not in self._memo:
            best = None
            for lo, hi, qual in self.ranges.get(os.path.realpath(path), ()):
                if lo <= line <= hi and (best is None or lo > best[0]):
                    best = (lo, qual)
            self._memo[key] = best[1] if best else None
        return self._memo[key]


# functions whose own Spark actions belong to one crawl phase; a job
# raised elsewhere (a shared helper, a pool thread's future, or an
# action PySpark gives no Python callsite, such as DataFrameWriter
# saves and adaptive query stages) takes the phase the driver thread
# was in when the job was submitted (StackSampler)
PHASE_OF = {
    "CrawlEngine._select_pops": "select",
    "CrawlEngine._execute_round": "execute",
    "CrawlEngine._dedup_links": "dedup",
    "CrawlEngine._compact": "compact",
    "CheckpointCatalog.stage": "execute",
    "CheckpointCatalog.stage_rows": "execute",
    "CheckpointCatalog.prepare_compact": "compact",
    "CheckpointCatalog.compact": "compact",
}


class StackSampler:
    """Samples the creating thread's Python stack every ``interval``
    seconds and records the crawl phase it is in: the innermost
    ``CrawlEngine`` phase method on the stack, found by ``file:line``
    through the ``SourceMap`` (``other`` outside all of them)."""

    def __init__(self, srcmap: SourceMap, interval: float = 0.01):
        self.srcmap = srcmap
        self.interval = interval
        self.tid = threading.get_ident()
        self.t_ms: list[float] = []
        self.phase: list[str] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            frame = sys._current_frames().get(self.tid)
            phase = "other"
            while frame is not None:
                qual = self.srcmap.lookup_line(frame.f_code.co_filename,
                                               frame.f_lineno)
                if qual and qual.startswith("CrawlEngine.") \
                        and qual in PHASE_OF:
                    phase = PHASE_OF[qual]
                    break
                frame = frame.f_back
            del frame
            self.t_ms.append(time.time() * 1000)
            self.phase.append(phase)
        self.cpu_s = time.thread_time()

    def phase_at(self, t_ms: float) -> str:
        """Phase of the first sample taken at or after ``t_ms``."""
        i = bisect.bisect_left(self.t_ms, t_ms)
        return self.phase[i] if i < len(self.phase) else "other"

    def seconds(self, t0_ms: float, t1_ms: float) -> dict:
        """Seconds per phase within ``[t0_ms, t1_ms]``: each gap between
        samples goes to the phase of the sample closing it."""
        out = dict.fromkeys(PHASES, 0.0)
        i = bisect.bisect_left(self.t_ms, t0_ms)
        last = t0_ms
        while i < len(self.t_ms) and last < t1_ms:
            t = min(self.t_ms[i], t1_ms)
            out[self.phase[i]] += (t - last) / 1000
            last = t
            i += 1
        return out


class EventLog:
    """Jobs and executed stages of one application's event log."""

    def __init__(self, evdir: str):
        files = sorted(glob.glob(os.path.join(evdir, "*")))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {evdir}: {files}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"], "end": None,
                        "site": (e.get("Properties") or {}).get(
                            "callSite.short", ""),
                        "stages": e["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in self.jobs:
                        self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    scopes = " ".join(r.get("Scope") or ""
                                      for r in si.get("RDD Info", []))
                    run_ms = sum(a.get("Value") or 0
                                 for a in si.get("Accumulables", [])
                                 if a.get("Name")
                                 == "internal.metrics.executorRunTime")
                    st = self.stages.setdefault(si["Stage ID"], {
                        "python": False, "run_ms": 0})
                    st["python"] |= bool(PY_SCOPE.search(scopes))
                    st["run_ms"] += int(run_ms)
        # each executed stage counts once, for the first job listing it
        self.stage_job: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stages"]:
                if sid in self.stages:
                    self.stage_job.setdefault(sid, jid)

    def window(self, t0_ms: float, t1_ms: float) -> list[int]:
        """Ids of jobs submitted inside ``[t0_ms, t1_ms]``."""
        return sorted(j for j, v in self.jobs.items()
                      if t0_ms <= v["submit"] <= t1_ms)

    def stage_stats(self, jids) -> dict:
        jids = set(jids)
        out = collections.Counter()
        for sid, jid in self.stage_job.items():
            if jid not in jids:
                continue
            st = self.stages[sid]
            if st["python"]:
                out["python_stages"] += 1
                out["python_executor_s"] += st["run_ms"] / 1000
        return out

    def phases(self, jids, t0_ms: float, t1_ms: float, srcmap: SourceMap,
               sampler: StackSampler) -> dict:
        """Jobs and wall seconds per crawl phase within one round
        window. A job's phase is that of its Python callsite when the
        callsite lies in a ``PHASE_OF`` function, else the driver's
        phase at submission. Seconds are the driver thread's sampled
        time in each phase, so they sum to the window; ``driver_s`` is
        the part of the window when no Spark job was running."""
        out = {f"{p}.jobs": 0 for p in PHASES}
        out.update({f"{p}.s": s for p, s in sampler.seconds(t0_ms, t1_ms)
                    .items()})
        spans = []
        for jid in jids:
            job = self.jobs[jid]
            phase = (PHASE_OF.get(srcmap.lookup(job["site"]))
                     or sampler.phase_at(job["submit"]))
            out[f"{phase}.jobs"] += 1
            lo = max(job["submit"], t0_ms)
            hi = min(job["end"] if job["end"] is not None else t1_ms, t1_ms)
            if hi > lo:
                spans.append((lo, hi))
        covered = 0.0
        reach = t0_ms
        for lo, hi in sorted(spans):
            if hi > reach:
                covered += hi - max(lo, reach)
                reach = hi
        out["driver_s"] = (t1_ms - t0_ms - covered) / 1000
        return out
