"""Tracing from outside the package: spans around the public calls of each
layer, and per-op Spark job metrics read back from the driver's own UI.

Nothing here edits the package.  ``Tracer.install`` rebinds public functions
and methods to timing wrappers for the life of the process; untraced runs
never call it, so their timings carry no wrapper cost.  Spans live in memory
and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from datetime import datetime

from perfbench.stats import self_time, union_length

# (layer, module, owner attribute or None, attribute): the calls wrapped.
# db.py binds cascade_search at import time, so the span for it wraps that
# binding; cascade_search_batch and LocalCascadeSearcher are imported inside
# the calling functions, so wrapping the module or class attribute is enough.
TARGETS = [
    ("session", "binaryvectordb_spark.session", None, "get_spark"),
    *[("db", "binaryvectordb_spark.db", "BinaryVectorDB", m) for m in (
        "add_batch_df", "add_batch", "remove_docs", "compact", "search",
        "search_batch", "to_local_searcher", "get_docs", "verify_integrity")],
    ("cascade", "binaryvectordb_spark.db", None, "cascade_search"),
    ("cascade", "binaryvectordb_spark.operators.cascade", None,
     "cascade_search_batch"),
    ("local_serve", "binaryvectordb_spark.operators.local_serve",
     "LocalCascadeSearcher", "from_dataframes"),
    ("local_serve", "binaryvectordb_spark.operators.local_serve",
     "LocalCascadeSearcher", "search"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None     # id of the benchmark op in flight

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            span = {"id": len(tracer.spans), "name": name,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "op": tracer.op, "start": time.perf_counter(),
                    "end": None}
            tracer.spans.append(span)
            tracer._stack.append(span["id"])
            try:
                return fn(*a, **kw)
            finally:
                span["end"] = time.perf_counter()
                tracer._stack.pop()
        return wrapper

    def install(self) -> None:
        import importlib
        for layer, modname, owner, attr in TARGETS:
            mod = importlib.import_module(modname)
            name = f"{layer}.{attr}"
            if owner is None:
                setattr(mod, attr, self._wrap(name, getattr(mod, attr)))
                continue
            cls = getattr(mod, owner)
            raw = cls.__dict__[attr]
            if isinstance(raw, classmethod):
                setattr(cls, attr, classmethod(self._wrap(name, raw.__func__)))
            else:
                setattr(cls, attr, self._wrap(name, raw))

    def ms(self, name: str, ops=None, own: bool = False) -> list[float]:
        """Each call of ``name`` (restricted to spans of ``ops`` when given):
        its duration in ms, or with ``own`` its self time, the duration
        minus what its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [1e3 * (self_time((s["start"], s["end"]), kids.get(s["id"], []))
                       if own else s["end"] - s["start"])
                for s in self.spans
                if s["name"] == name and (ops is None or s["op"] in ops)]


def overhead_per_span_us(n: int = 20000) -> float:
    """Wrapper bookkeeping cost per call, from wrapping a no-op."""
    t = Tracer()
    f = t._wrap("noop", lambda: None)
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    return 1e6 * (time.perf_counter() - t0) / n


# -- Spark jobs per op ---------------------------------------------------------

def _ts(s: str | None) -> float | None:
    # the REST API stamps times as e.g. 2026-01-01T12:00:00.123GMT
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


class SparkOps:
    """Tags each op's jobs with a job group and, after the run, reads the
    jobs' and stages' metrics from the local UI REST API."""

    def __init__(self, sc):
        self.sc = sc
        self.groups: dict[str, str] = {}    # group id -> op kind
        self.walls: dict[str, float] = {}   # group id -> op wall seconds

    def begin(self, op_id: str, kind: str) -> None:
        self.groups[op_id] = kind
        self.sc.setJobGroup(op_id, kind)

    def end(self, op_id: str, wall_s: float) -> None:
        self.walls[op_id] = wall_s
        self.sc.setJobGroup("pb-idle", "between ops")

    def collect(self, timeout_s: float = 30.0) -> dict[str, dict]:
        """Per op: jobs, tasks, job wall (union of job intervals), executor
        run and CPU ms, input and shuffle-write bytes, and the driver gap
        (op wall minus job wall)."""
        tracker = self.sc.statusTracker()
        ids = {g: list(tracker.getJobIdsForGroup(g)) for g in self.groups}
        base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                f"{self.sc.applicationId}")
        deadline = time.monotonic() + timeout_s
        while True:   # the UI store lags the scheduler; wait for completion
            jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
            want = [j for js in ids.values() for j in js]
            if all(j in jobs and jobs[j].get("completionTime")
                   for j in want) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for st in _get(f"{base}/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        out = {}
        for g, js in ids.items():
            rec = {"kind": self.groups[g], "jobs": len(js), "tasks": 0,
                   "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
                   "input_bytes": 0, "shuffle_bytes": 0}
            spans = []
            for j in js:
                job = jobs.get(j)
                if job is None:
                    continue
                rec["tasks"] += job.get("numCompletedTasks", 0)
                a, b = _ts(job.get("submissionTime")), _ts(
                    job.get("completionTime"))
                if a is not None and b is not None:
                    spans.append((a, b))
                for sid in job.get("stageIds", []):
                    for st in stages.get(sid, []):
                        if st.get("status") == "SKIPPED":
                            continue
                        rec["executor_run_ms"] += st.get("executorRunTime", 0)
                        rec["executor_cpu_ms"] += (
                            st.get("executorCpuTime", 0) / 1e6)
                        rec["input_bytes"] += st.get("inputBytes", 0)
                        rec["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
            rec["job_wall_ms"] = 1e3 * union_length(spans)
            rec["driver_gap_ms"] = 1e3 * self.walls.get(g, 0.0) - rec[
                "job_wall_ms"]
            out[g] = rec
        return out

    def cache_bytes(self) -> int:
        base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                f"{self.sc.applicationId}")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in _get(f"{base}/storage/rdd"))
