"""Spans around the engine's public entry points, plus Spark's own metrics.

Only the traced run (``--trace 1``) installs any of this.  ``Tracer``
wraps the public functions the benchmark reaches (``ENTRY_POINTS``)
from the outside: each call becomes a span with a name, start, end,
parent span and run id, and the Spark jobs it submits carry its span id
as their job group.  After the run, ``job_metrics`` reads those jobs
and their stages back from ``sparkContext._jsc.sc().statusStore()``,
and ``sql_executions`` the SQL executions that ran them from the SQL
status store; both work with ``spark.ui.enabled=false``.  Spans stay in
memory and are written out once, at exit.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
import uuid
from dataclasses import asdict, dataclass

# (module, attribute path, span name): the layer is the span name's prefix
ENTRY_POINTS = [
    ("filipo_spark.replay", "run_replay", "replay.run_replay"),
    ("filipo_spark.replay", "run_drifted_replay", "replay.run_drifted_replay"),
    ("filipo_spark.table.icelet", "IceletTable.apply_epoch", "icelet.apply_epoch"),
    ("filipo_spark.table.icelet", "IceletTable.read", "icelet.read"),
    ("filipo_spark.table.icelet", "IceletTable.compact", "icelet.compact"),
    ("filipo_spark.table.icelet", "IceletTable.committed_ranges", "icelet.committed_ranges"),
    ("filipo_spark.table.sketch", "KeyBloom.add_df", "sketch.add_df"),
    ("filipo_spark.table.sketch", "KeyBloom.load", "sketch.load"),
    ("filipo_spark.align", "align", "mapper.align"),
    ("filipo_spark.align.mapper", "align", "mapper.align"),
    ("filipo_spark.align.drift", "mapping_health", "drift.mapping_health"),
    ("filipo_spark.align", "apply_mapping", "mapper.apply_mapping"),
    ("filipo_spark.align.mapper", "apply_mapping", "mapper.apply_mapping"),
    ("filipo_spark.table.changes", "changes_between", "changes.changes_between"),
]


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    run_id: str
    thread: str
    start: float
    end: float = 0.0
    compiles: int = 0  # Janino compiles while the span was open

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  ``install()`` patches the entry points;
    ``uninstall()`` restores them."""

    def __init__(self, spark, run_id: str | None = None):
        self.spark = spark
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._compile_counter = _compile_counter(spark)

    # --- spans -----------------------------------------------------------
    def compiles(self) -> int:
        return self._compile_counter()

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> tuple[Span, tuple]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = f"{self.run_id}-{next(self._ids)}"
        sp = Span(sid, name, stack[-1].span_id if stack else None, self.run_id,
                  threading.current_thread().name, time.time())
        sc = self.spark.sparkContext
        prev = (sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"))
        sc.setJobGroup(sid, name)
        sp.compiles = -self.compiles()
        stack.append(sp)
        return sp, prev

    def _close(self, sp: Span, prev: tuple) -> None:
        sp.compiles += self.compiles()
        sp.end = time.time()
        self._local.stack.pop()
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])
        with self._lock:
            self.spans.append(sp)

    # --- patching ----------------------------------------------------------
    def install(self) -> None:
        for mod_name, path, name in ENTRY_POINTS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._patched.append((owner, attr, raw))
            setattr(owner, attr, self._wrap(raw, name))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def _wrap(self, raw, name: str):
        tracer = self
        if isinstance(raw, classmethod):
            fn = raw.__func__

            @functools.wraps(fn)
            def cm(cls, *a, **k):
                with tracer.span(name):
                    return fn(cls, *a, **k)

            return classmethod(cm)

        @functools.wraps(raw)
        def wrapper(*a, **k):
            with tracer.span(name):
                return raw(*a, **k)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.sp, self.prev = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp, self.prev)


def _compile_counter(spark):
    """Janino compile count (``CodegenMetrics.METRIC_COMPILATION_TIME``)."""
    jvm = spark.sparkContext._jvm
    cls = jvm.java.lang.Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    metric = cls.getField("MODULE$").get(None).METRIC_COMPILATION_TIME()
    return lambda: int(metric.getCount())


class NullTracer:
    """Stand-in for the untraced run: spans cost nothing and record nothing."""

    def span(self, name: str):
        return _NULL


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL = _NullCtx()


# --- Spark job/stage metrics -------------------------------------------------
@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    stages: list[dict]


def _seq(x) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [x.apply(i) for i in range(x.size())]


def job_metrics(spark) -> list[Job]:
    """Every completed job in the status store, with its stages' executor
    run/CPU time, shuffle, output and spill bytes and task-time quantiles."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    stages = {}
    for s in _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
        sid = s.stageId()
        summary = store.taskSummary(sid, s.attemptId(), qs)
        run_q = _seq(summary.get().executorRunTime()) if summary.isDefined() else [0.0, 0.0]
        stages[sid] = {
            "stage_id": sid,
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "output_bytes": s.outputBytes(),
            "input_bytes": s.inputBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "tasks": s.numTasks(),
            "task_p50_s": run_q[0] / 1e3,
            "task_max_s": run_q[1] / 1e3,
        }
    jobs = []
    for j in _seq(store.jobsList(None)):
        if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
            continue
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        jobs.append(Job(
            j.jobId(), group,
            j.submissionTime().get().getTime() / 1e3,
            j.completionTime().get().getTime() / 1e3,
            [stages[i] for i in _seq(j.stageIds()) if i in stages],
        ))
    return jobs


@dataclass
class Execution:
    """One SQL execution (an action: planning, its jobs, result transfer)."""
    start: float
    end: float
    job_ids: list[int]


def sql_executions(spark) -> list[Execution]:
    """Every completed SQL execution in the SQL status store, with its jobs."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        if not e.completionTime().isDefined():
            continue
        ids, it = [], e.jobs().keys().iterator()
        while it.hasNext():
            ids.append(int(it.next()))
        out.append(Execution(e.submissionTime() / 1e3,
                             e.completionTime().get().getTime() / 1e3, ids))
    return out


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[Span], jobs: list[Job],
              executions: list[Execution] = ()) -> dict[str, dict]:
    """Per span: its jobs; its Spark time (the union of its own jobs and
    of the SQL executions it started that ran them, clipped to the span,
    outside its child spans); its self time (duration minus the union of
    its child spans and its Spark time); and the jobs of its whole
    subtree.  An execution that began before the span (a micro-batch
    around ``foreachBatch``) is its caller's, not the span's."""
    by_id = {sp.span_id: sp for sp in spans}
    children: dict[str, list[Span]] = {}
    for sp in spans:
        if sp.parent in by_id:
            children.setdefault(sp.parent, []).append(sp)
    own: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group in by_id:
            own.setdefault(j.group, []).append(j)
    group_of = {j.job_id: j.group for j in jobs}
    own_sql: dict[str, list[tuple[float, float]]] = {}
    for e in executions:
        g = next((group_of[i] for i in e.job_ids if i in group_of), None)
        if g in by_id:
            own_sql.setdefault(g, []).append((e.start, e.end))
    out = {}

    def subtree_jobs(sid: str) -> list[Job]:
        acc = list(own.get(sid, []))
        for c in children.get(sid, []):
            acc.extend(subtree_jobs(c.span_id))
        return acc

    for sp in spans:
        mine = own.get(sp.span_id, [])
        started = [(s, e) for s, e in own_sql.get(sp.span_id, []) if s >= sp.start - 1e-3]
        spark = [(max(s, sp.start), min(e, sp.end))
                 for s, e in [(j.start, j.end) for j in mine] + started]
        spark = [(s, e) for s, e in spark if e > s]
        kids = [(c.start, c.end) for c in children.get(sp.span_id, [])]
        busy = union_len(kids + spark)
        out[sp.span_id] = {
            "span": sp,
            "jobs": mine,
            "spark_s": busy - union_len(kids),
            "self_s": max(0.0, sp.dur - busy),
            "tree_jobs": subtree_jobs(sp.span_id),
        }
    return out
