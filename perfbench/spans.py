"""Spans recorded from outside the engine, plus Spark's own counters.

A span is one call into an engine layer: ``<module>.<function>``, its
start and end, its parent span and the op it belongs to. Spans stay in
memory until the run ends. On the driver thread each span also sets a
Spark job group, so the jobs a call launched, and their stages'
executor counters, can be read back from the status store afterwards
(this works with the UI disabled).
"""

from __future__ import annotations

import inspect
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    group: str | None = None
    stages: dict = field(default_factory=dict)  # counters summed over its stages
    stage_list: list = field(default_factory=list)  # counters of each stage
    jobs: list = field(default_factory=list)  # {"id", "ms", "broadcast", "stages"}

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


# stage counters read from the status store, and how to scale them
STAGE_COUNTERS = {
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_rows": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every method is
    a no-op, so the untraced run pays nothing but the call."""

    def __init__(self, spark=None, enabled: bool = True):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ops = 0
        self._lock = threading.Lock()
        self._seen_stages: set[int] = set()
        self._jobs: set[int] = set()
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self.stage_totals: dict[str, float] = dict.fromkeys([*STAGE_COUNTERS, "write_tasks"], 0.0)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Record a span around the body. On the main thread the span
        also tags the Spark jobs the body launches with a job group;
        threads Spark owns (a streaming sink) keep the job group Spark
        set for them."""
        if not self.enabled:
            yield None
            return
        t_enter = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            if parent is None:
                self._ops += 1
                op = self._ops
            else:
                op = self.spans[parent].op
            s = Span(sid, name, parent, op, time.perf_counter())
            self.spans.append(s)
        on_main = threading.current_thread() is threading.main_thread()
        sc = self.spark.sparkContext if (self.spark is not None and on_main) else None
        if sc is not None:
            s.group = f"pb{sid}"
            sc.setJobGroup(s.group, name)
        stack.append(sid)
        t_body = time.perf_counter()
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            if sc is not None:
                outer = next((self.spans[i] for i in reversed(stack) if self.spans[i].group), None)
                if outer is not None:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self._harvest_group(s)
            with self._lock:
                self.cost_s += (t_body - t_enter) + (time.perf_counter() - s.end)

    # --- Spark status store -------------------------------------------

    def _stage_counters(self, stage_id: int) -> dict | None:
        """Counters of a finished stage seen for the first time."""
        if stage_id in self._seen_stages:
            return None
        store = self.spark.sparkContext._jsc.sc().statusStore()
        try:
            st = store.lastStageAttempt(stage_id)
        except Exception:  # evicted or never attempted (skipped)
            return None
        if str(st.status().toString()) not in ("COMPLETE", "FAILED"):
            return None
        self._seen_stages.add(stage_id)
        out = {k: getattr(st, attr)() * scale for k, (attr, scale) in STAGE_COUNTERS.items()}
        out["stage_id"] = stage_id
        # one output file per task of a writing stage
        out["write_tasks"] = out["tasks"] if out["output_bytes"] > 0 else 0
        for k in self.stage_totals:
            self.stage_totals[k] += out[k]
        return out

    def _add_job(self, job_id: int, stage_ids, into: dict, listing: list | None = None) -> None:
        self._jobs.add(job_id)
        for sid in stage_ids:
            c = self._stage_counters(int(sid))
            if c:
                for k, v in c.items():
                    if k != "stage_id":
                        into[k] = into.get(k, 0.0) + v
                if listing is not None:
                    listing.append(c)

    def _harvest_group(self, s: Span) -> None:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        job_ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(s.group)
        for job_id in sorted(job_ids):
            try:
                j = store.job(job_id)
            except Exception:  # evicted
                continue
            ids = j.stageIds()
            stage_ids = [int(ids.apply(k)) for k in range(ids.size())]
            sub, done = j.submissionTime(), j.completionTime()
            ms = done.get().getTime() - sub.get().getTime() if sub.isDefined() and done.isDefined() else 0
            s.jobs.append(
                {
                    "id": job_id,
                    "ms": ms,
                    # Spark tags the job that builds a broadcast table
                    "broadcast": "broadcast exchange" in str(j.jobTags().mkString(",")),
                    "stages": stage_ids,
                }
            )
            self._add_job(job_id, stage_ids, s.stages, s.stage_list)
        s.stages["jobs"] = len(job_ids)

    def harvest_all(self, first_job: int = 0) -> None:
        """Fold in every finished job since ``first_job`` that no span
        claimed (jobs Spark ran on its own threads, e.g. streaming
        micro-batches)."""
        if not self.enabled or self.spark is None:
            return
        jobs = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        rest: dict = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < first_job or j.jobId() in self._jobs:
                continue
            ids = j.stageIds()
            self._add_job(j.jobId(), [ids.apply(k) for k in range(ids.size())], rest)

    def broadcast_build_ms(self, s: Span) -> float:
        """Time of the jobs in span ``s`` that built a broadcast table:
        the broadcast-exchange jobs and the map-stage jobs (adaptive
        execution runs an aggregate's map side as its own job) whose
        stages a broadcast job reuses."""
        reused = {st for j in s.jobs if j["broadcast"] for st in j["stages"]}
        return sum(j["ms"] for j in s.jobs if j["broadcast"] or (j["stages"] and set(j["stages"]) <= reused))

    def spark_counters(self) -> dict:
        return {"jobs": len(self._jobs), **self.stage_totals}

    # --- span queries -------------------------------------------------

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[sid]
        kids = [(c.start, c.end) for c in self.children(sid)]
        return s.dur - covered(kids, s.start, s.end)

    def named(self, name: str, under: str | None = None) -> list[Span]:
        """Spans called ``name``; with ``under``, only those with an
        ancestor called ``under``. Nested same-name spans count once."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            anc, ok_under, nested = s.parent, under is None, False
            while anc is not None:
                a = self.spans[anc]
                nested |= a.name == name
                ok_under |= a.name == under
                anc = a.parent
            if ok_under and not nested:
                out.append(s)
        return out

    def subtree(self, spans: list[Span]) -> list[Span]:
        """The given spans and their descendants."""
        ids = {s.id for s in spans}
        out = []
        for s in self.spans:
            anc = s.id
            while anc is not None and anc not in ids:
                anc = self.spans[anc].parent
            if anc is not None:
                out.append(s)
        return out

    def stage_sum(self, spans: list[Span], counter: str) -> float:
        """A stage counter summed over the given spans and their
        descendants."""
        return sum(s.stages.get(counter, 0.0) for s in self.subtree(spans))

    def stage_records(self, spans: list[Span]) -> list[dict]:
        """Per-stage counters of the given spans and their descendants."""
        return [c for s in self.subtree(spans) for c in s.stage_list]

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
             "start": s.start, "end": s.end, "stages": s.stages, "jobs": s.jobs}
            for s in self.spans
        ]


@contextmanager
def traced_functions(tracer: Tracer, functions: dict[str, tuple[str, ...]]):
    """Swap each ``module.function`` named in ``functions`` (module
    path -> function names) for a wrapper that records a span named
    ``<module>.<function>`` (module path without ``dot_spark.`` and
    ``operators.``), and restore them on exit. Callers that look the
    function up at call time get the wrapper. With tracing off nothing
    is swapped."""
    import importlib

    saved = []
    try:
        if tracer.enabled:
            for mod_name, names in functions.items():
                mod = importlib.import_module(mod_name)
                short = mod_name.removeprefix("dot_spark.").removeprefix("operators.")
                for name in names:
                    fn = getattr(mod, name)
                    saved.append((mod, name, fn))
                    setattr(mod, name, _spanned(tracer, f"{short}.{name}", fn))
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _spanned(tracer: Tracer, span_name: str, fn):
    def call(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return call


# methods too trivial and too frequent to be worth a span
UNTRACED_METHODS = ("path",)


class Timed:
    """Forwarding proxy that records a span named ``<prefix>.<method>``
    around every method call on the wrapped object, except
    UNTRACED_METHODS. Methods run with the proxy as ``self``, so calls
    a method makes on ``self`` become child spans."""

    def __init__(self, target, prefix: str, tracer: Tracer):
        object.__setattr__(self, "_target", target)
        object.__setattr__(self, "_prefix", prefix)
        object.__setattr__(self, "_tracer", tracer)

    def __getattr__(self, name):
        target = object.__getattribute__(self, "_target")
        fn = inspect.getattr_static(type(target), name, None)
        if not inspect.isfunction(fn):
            return getattr(target, name)
        if name in UNTRACED_METHODS:
            return fn.__get__(self)
        prefix = object.__getattribute__(self, "_prefix")
        tracer = object.__getattribute__(self, "_tracer")

        def call(*args, **kwargs):
            with tracer.span(f"{prefix}.{name}"):
                return fn(self, *args, **kwargs)

        return call

    def __setattr__(self, name, value):
        setattr(object.__getattribute__(self, "_target"), name, value)

