"""Spans around calls into the program, and the Spark event log that
charges every job to one of them.

The benchmark (not the program) opens the spans: ``Tracer.install``
wraps the public functions of each program module named in
``LAYERS``, the ``TableIO`` methods, ``DataFrame.localCheckpoint`` and
``ThreadPoolExecutor.submit``. A span records name, parent, start,
end and attributes. While a span is open on a thread, the thread's Spark
local property ``bench.span`` holds its id, so every job that thread
submits carries the id in its ``SparkListenerJobStart`` properties
(pinned-thread mode maps each Python thread to its own JVM thread).
Pool workers adopt the submitting thread's span, so jobs from the
program's ``ThreadPoolExecutor`` sites are charged too.

Spark is lazy: a public call that returns a DataFrame only builds a
plan. A layer's busy time therefore comes from the event-log task and
SQL metrics of the jobs charged to its spans, and where the benchmark
itself materializes a result it opens the span under the layer name of
the function that built it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

PROP = "bench.span"

# layer name -> (module under the package, functions to wrap; None = every
# public function defined in that module)
LAYERS = {
    "pipeline": ("pipeline", ["run_extraction_pipeline"]),
    "stages": ("stages", ["extract_spans"]),
    "streaming": ("streaming", ["incremental_extract", "incremental_extract_with_index",
                                "conv_fingerprints"]),
    "index_maintenance": ("operators.index_maintenance", None),
    "serving": ("operators.serving", None),
    "scale": ("operators.scale", ["salted_conv_rollup"]),
    "dedup": ("operators.dedup", None),
    "curation": ("operators.curation", None),
    "similarity": ("operators.similarity", None),
    "textstats": ("operators.textstats", None),
}
TABLEIO_METHODS = ("commit_stage", "read_table")
# every layer a span can be charged to: the wrapped modules, plus the
# TableIO methods and DataFrame.localCheckpoint wrapped below
SPAN_LAYERS = (*LAYERS, "tableio", "checkpoint")


class Span:
    __slots__ = ("id", "name", "parent", "t0", "t1", "attrs")

    def __init__(self, sid: int, name: str, parent: Span | None, attrs: dict) -> None:
        self.id = sid
        self.name = name
        self.parent = parent
        self.t0 = time.monotonic()
        self.t1: float | None = None
        self.attrs = attrs

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return (self.t1 if self.t1 is not None else time.monotonic()) - self.t0


class NullTracer:
    """Tracing off: same interface, no spans, no patches."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _set_prop(self, span: Span | None) -> None:
        self.sc.setLocalProperty(PROP, None if span is None else str(span.id))

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        with self._lock:
            sp = Span(next(self._ids), name, st[-1] if st else None, attrs)
            self.spans.append(sp)
        st.append(sp)
        self._set_prop(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.monotonic()
            st.pop()
            self._set_prop(st[-1] if st else None)

    def _adopt(self, parent: Span | None) -> None:
        """Make ``parent`` (a span of another thread) this thread's base."""
        self._tls.stack = [parent] if parent is not None else []
        self._set_prop(parent)

    def wrap(self, name: str, fn, attrs_of=None):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, **(attrs_of(a, kw) if attrs_of else {})):
                return fn(*a, **kw)

        return traced

    # -- patching ------------------------------------------------------
    def _setattr(self, obj, attr: str, value) -> None:
        self._undo.append((obj, attr, obj.__dict__[attr] if isinstance(obj, type)
                           else getattr(obj, attr)))
        setattr(obj, attr, value)

    def install(self, package: str) -> None:
        import importlib

        originals: dict[int, object] = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(f"{package}.{modname}")
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if not n.startswith("_") and inspect.isfunction(f)
                    and f.__module__ == mod.__name__
                ]
            for n in names:
                f = getattr(mod, n)
                originals[id(f)] = self.wrap(f"{layer}.{n}", f)
        # rebind every reference the package holds: module globals
        # (``from .x import f`` copies) and registry dict values
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == package or mname.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and inspect.isfunction(val):
                    self._setattr(mod, attr, originals[id(val)])
                elif isinstance(val, dict):
                    for k, v in list(val.items()):
                        if id(v) in originals and inspect.isfunction(v):
                            self._undo.append((val, k, v))
                            val[k] = originals[id(v)]

        tableio = importlib.import_module(f"{package}.sources.tableio").TableIO
        for m in TABLEIO_METHODS:
            self._setattr(tableio, m, self.wrap(
                f"tableio.{m}", tableio.__dict__[m],
                attrs_of=lambda a, kw: {"table": a[2] if len(a) > 2 else kw.get("name")},
            ))

        tracer = self
        orig_submit = ThreadPoolExecutor.submit

        def submit(pool, fn, /, *a, **kw):
            parent = tracer.current()

            def adopted(*a2, **kw2):
                tracer._adopt(parent)
                try:
                    return fn(*a2, **kw2)
                finally:
                    tracer._adopt(None)

            return orig_submit(pool, adopted, *a, **kw)

        self._setattr(ThreadPoolExecutor, "submit", submit)

        from pyspark.sql.classic.dataframe import DataFrame

        orig_cp = DataFrame.localCheckpoint

        def local_checkpoint(df, *a, **kw):
            with tracer.span("checkpoint.localCheckpoint") as sp:
                out = orig_cp(df, *a, **kw)
                # the checkpointed plan is a LogicalRDD over the RDD
                # whose blocks hold the materialized rows
                sp.attrs["rdd"] = out._jdf.queryExecution().analyzed().rdd().id()
                return out

        self._setattr(DataFrame, "localCheckpoint", local_checkpoint)

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._undo):
            if isinstance(obj, dict):
                obj[attr] = val
            else:
                setattr(obj, attr, val)
        self._undo.clear()

    # -- analysis ------------------------------------------------------
    def descendants(self, root: Span) -> list[Span]:
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent.id].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s.id])
        return out

    def exclusive_by_layer(self, root: Span) -> dict[str, float]:
        """Split the root's wall among the spans active at each instant:
        time goes to the innermost active spans (those with no active
        child), shared equally when several run at once. The shares sum
        to the root's wall exactly; what the root keeps for itself is
        time spent outside every traced call (``_root``)."""
        tree = self.descendants(root)
        ids = {s.id for s in tree}
        events = []
        for s in tree:
            t1 = s.t1 if s.t1 is not None else root.t1
            events.append((max(s.t0, root.t0), 1, s))
            events.append((min(t1, root.t1), 0, s))
        events.sort(key=lambda e: (e[0], e[1]))
        active: set[int] = set()
        child_active: dict[int, int] = defaultdict(int)
        by_id = {s.id: s for s in tree}
        out: dict[str, float] = defaultdict(float)
        prev = root.t0
        for t, kind, s in events:
            if t > prev and active:
                leaves = [i for i in active if child_active[i] == 0]
                share = (t - prev) / len(leaves)
                for i in leaves:
                    out["_root" if i == root.id else by_id[i].layer] += share
            prev = max(prev, t)
            p = s.parent.id if s.parent is not None and s.parent.id in ids and s is not root else None
            if kind == 1:
                active.add(s.id)
                if p is not None:
                    child_active[p] += 1
            else:
                active.discard(s.id)
                if p is not None:
                    child_active[p] -= 1
        return dict(out)


def _metric_seconds(value: float, mtype: str) -> float:
    return value / 1e9 if mtype == "nsTiming" else value / 1e3


class EventLog:
    """The parts of one Spark event log the per-layer metrics need."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.accum: dict[int, tuple[str, str, str]] = {}  # id -> (node, metric, type)
        self.exec_driver: dict[int, list] = defaultdict(list)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                getattr(self, "_on_" + e["Event"].rsplit(".", 1)[-1], _noop)(e)

    @classmethod
    def from_dir(cls, d: str) -> EventLog:
        files = [p for p in glob.glob(os.path.join(d, "*")) if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {d}, found {files}")
        return cls(files[0])

    def _on_SparkListenerJobStart(self, e: dict) -> None:
        props = e.get("Properties") or {}
        span = props.get(PROP)
        ex = props.get("spark.sql.execution.id")
        self.jobs[e["Job ID"]] = {
            "span": int(span) if span else None,
            "execution": int(ex) if ex not in (None, "") else None,
            "tasks": [],
        }
        for sid in e.get("Stage IDs", []):
            self.stage_job.setdefault(sid, e["Job ID"])

    def _plan(self, info: dict) -> None:
        todo = [info]
        while todo:
            n = todo.pop()
            for m in n.get("metrics", []):
                self.accum[m["accumulatorId"]] = (n.get("nodeName", ""), m["name"], m["metricType"])
            todo.extend(n.get("children", []))

    def _on_SparkListenerSQLExecutionStart(self, e: dict) -> None:
        self._plan(e["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e: dict) -> None:
        self._plan(e["sparkPlanInfo"])

    def _on_SparkListenerDriverAccumUpdates(self, e: dict) -> None:
        self.exec_driver[e["executionId"]].extend(e["accumUpdates"])

    def _on_SparkListenerTaskEnd(self, e: dict) -> None:
        job = self.stage_job.get(e["Stage ID"])
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        out = m.get("Output Metrics") or {}
        t = {
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
            "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            "bytes_written": out.get("Bytes Written", 0),
            "sql": [(a["ID"], a.get("Update", 0)) for a in info.get("Accumulables", [])
                    if a.get("Metadata") == "sql"],
        }
        if job is not None:
            self.jobs[job]["tasks"].append(t)

    # -- queries ---------------------------------------------------------
    def task_sum(self, job_ids, key: str) -> float:
        return sum(t[key] for j in job_ids for t in self.jobs[j]["tasks"])

    def n_tasks(self, job_ids) -> int:
        return sum(len(self.jobs[j]["tasks"]) for j in job_ids)

    def sql_sum(self, job_ids, metric: str, seconds: bool = False) -> float:
        total = 0.0
        for j in job_ids:
            for t in self.jobs[j]["tasks"]:
                for aid, upd in t["sql"]:
                    node = self.accum.get(aid)
                    if node and node[1] == metric:
                        v = float(upd)
                        total += _metric_seconds(v, node[2]) if seconds else v
        return total

    def python_rows(self, job_ids) -> float:
        """Rows out of Python map nodes (mapInArrow/mapInPandas)."""
        total = 0.0
        for j in job_ids:
            for t in self.jobs[j]["tasks"]:
                for aid, upd in t["sql"]:
                    node = self.accum.get(aid)
                    if node and "MapIn" in node[0] and node[1] == "number of output rows":
                        total += float(upd)
        return total

    def driver_sum(self, job_ids, metric: str) -> float:
        """Driver-side SQL metrics (file listing counts) of the SQL
        executions the jobs belong to, each execution counted once."""
        execs = {self.jobs[j]["execution"] for j in job_ids} - {None}
        total = 0.0
        for ex in execs:
            for aid, v in self.exec_driver.get(ex, []):
                node = self.accum.get(aid)
                if node and node[1] == metric:
                    total += float(v)
        return total


def _noop(e: dict) -> None:
    pass


class Profile:
    """Spans joined with the jobs charged to them."""

    def __init__(self, tracer: Tracer, log: EventLog) -> None:
        self.tracer = tracer
        self.log = log
        known = {s.id for s in tracer.spans}
        self.unattributed = [j for j, d in log.jobs.items() if d["span"] not in known]
        self.jobs_of_span: dict[int, list[int]] = defaultdict(list)
        for j, d in log.jobs.items():
            if d["span"] in known:
                self.jobs_of_span[d["span"]].append(j)

    def jobs_under(self, root: Span) -> list[int]:
        return [j for s in self.tracer.descendants(root) for j in self.jobs_of_span[s.id]]
