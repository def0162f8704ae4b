"""Outside-in tracer: spans around the engine's public functions, with
Spark jobs, stages and task metrics attributed from the event log.

Spans are recorded from the benchmark's side only. :meth:`Tracer.patch`
replaces a function at the binding its caller resolves (the module
attribute, or the importing module's own name for ``from x import f``);
:meth:`Tracer.span` brackets a call in the benchmark's own code, for
functions that return a lazy DataFrame and whose work runs in the
caller's action. Each span sets the thread-local Spark property
``perfbench.span`` while it is open, so every job the span's thread
submits carries the innermost open span's id into the event log. Jobs
submitted by threads the engine starts itself carry no id; they are
charged to the innermost span open on the caller's thread at the job's
submission time.

A span's ``self_s`` is its wall time minus the part of its interval that
its child spans cover. Spans stay in memory; :func:`layer_report` joins
them with the parsed event log once the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import json
import threading
import time
from collections import defaultdict

PROPERTY = "perfbench.span"


class _Span:
    __slots__ = ("id", "name", "parent", "start", "end", "lock_wait", "main",
                 "marker")

    def __init__(self, sid, name, parent, start, main, marker):
        self.id, self.name, self.parent, self.start = sid, name, parent, start
        self.main, self.marker = main, marker
        self.end = None
        self.lock_wait = 0.0


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._main = threading.get_ident()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[_Span] = []
        self.spans: list[_Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[_Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, marker: bool = False):
        """Open a span. A ``marker`` span (a lock held around engine work)
        only records its own times: it parents no spans and owns no jobs."""
        stack = self._stack()
        # a span opened on an engine-started thread hangs under the span
        # the caller's thread is blocked in
        parent = (stack or self._main_stack or [None])[-1]
        with self._lock:
            s = _Span(len(self.spans), name, parent.id if parent else None,
                      time.time(), stack is self._main_stack, marker)
            self.spans.append(s)
        if marker:
            try:
                yield s
            finally:
                s.end = time.time()
            return
        stack.append(s)
        before = self._sc.getLocalProperty(PROPERTY)
        self._sc.setLocalProperty(PROPERTY, str(s.id))
        try:
            yield s
        finally:
            self._sc.setLocalProperty(PROPERTY, before)
            s.end = time.time()
            stack.pop()

    def patch(self, module, attr: str, name: str, context_manager=False):
        """Replace ``module.attr`` with a spanned wrapper. A context
        manager factory (the writer lock) gets a marker span over the
        managed block that records the time spent entering it."""
        orig = getattr(module, attr)
        tracer = self

        if context_manager:
            @contextlib.contextmanager
            def wrapper(*args, **kwargs):
                with tracer.span(name, marker=True) as s:
                    t0 = time.time()
                    with orig(*args, **kwargs) as value:
                        s.lock_wait = time.time() - t0
                        yield value
        else:
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()


# --- event log ----------------------------------------------------------------

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(log_dir: str) -> dict:
    """Jobs (submission time, span id, stage ids) and per-stage task
    totals from the single application log in ``log_dir``."""
    (path,) = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    jobs, stages = {}, defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(PROPERTY)
                jobs[ev["Job ID"]] = {
                    "submitted": ev["Submission Time"] / 1000.0,
                    "span": int(span) if span not in (None, "") else None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["output_bytes"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in _PY_BYTES:
                        st["python_bytes"] += float(acc.get("Update") or 0)
    # a stage listed by several jobs (reused shuffle output) ran its tasks
    # once: charge it to the first job that lists it
    owner = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        job["stage_ids"] = [s for s in job["stages"] if owner[s] == jid]
    return {"jobs": jobs, "stages": stages}


TASK_STATS = ("tasks", "executor_cpu_s", "executor_run_s", "gc_s",
              "shuffle_bytes", "output_bytes", "python_bytes")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_report(
    spans: list[_Span], log: dict, window: tuple[float, float],
    batch: tuple[float, float],
) -> dict:
    """Per-call records, per-name aggregates and whole-window Spark totals
    for the jobs submitted inside ``window`` (the measured phase); the
    ``batch`` window (the import, or the night) gives ``jobs_per_batch``."""
    t0, t1 = window
    by_id = {s.id: s for s in spans}
    main_spans = [s for s in spans if s.main and not s.marker]
    jobs = {j: v for j, v in log["jobs"].items() if t0 <= v["submitted"] <= t1}

    def innermost_at(t: float):
        best = None
        for s in main_spans:
            if s.start <= t <= (s.end or t1) and (best is None or s.start >= best.start):
                best = s
        return best

    direct = defaultdict(list)
    for jid, job in jobs.items():
        sid = job["span"]
        if sid is None:
            s = innermost_at(job["submitted"])
            sid = s.id if s else None
        if sid is not None:
            direct[sid].append(jid)

    def task_totals(job_ids):
        out = dict.fromkeys(TASK_STATS, 0.0)
        for jid in job_ids:
            for sid in log["jobs"][jid]["stage_ids"]:
                for k in TASK_STATS:
                    out[k] += log["stages"].get(sid, {}).get(k, 0.0)
        return out

    children = defaultdict(list)
    for s in spans:
        if s.parent is not None and not s.marker:
            children[s.parent].append(s)

    def subtree_jobs(s) -> int:
        return len(direct[s.id]) + sum(subtree_jobs(c) for c in children[s.id])

    calls = []
    agg = defaultdict(lambda: defaultdict(float))
    for s in spans:
        wall = s.end - s.start
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
        rec = {
            "name": s.name,
            "wall_s": wall,
            "self_s": wall - _covered([k for k in kids if k[1] > k[0]]),
            "jobs": len(direct[s.id]),
            "jobs_incl": subtree_jobs(s),
            "lock_wait_s": s.lock_wait,
            "parent": by_id[s.parent].name if s.parent is not None else None,
            **task_totals(direct[s.id]),
        }
        calls.append(rec)
        a = agg[s.name]
        a["calls"] += 1
        for k, v in rec.items():
            if isinstance(v, (int, float)):
                a[k] += v
    whole = task_totals(jobs)
    n_jobs = len(jobs)
    spark = {
        "jobs": n_jobs,
        "jobs_per_batch": sum(
            batch[0] <= v["submitted"] <= batch[1] for v in jobs.values()
        ),
        "s_per_job": (t1 - t0) / max(n_jobs, 1),
        "stages": sum(len(log["jobs"][j]["stage_ids"]) for j in jobs),
        **whole,
    }
    return {"calls": calls, "spans": {k: dict(v) for k, v in agg.items()},
            "spark": spark}
