"""Spans, counts and Spark's own hooks for the traced benchmark run.

Nothing here runs unless the benchmark is started with ``--trace 1``; the
untraced run calls the package's functions bare.

- :class:`Tracer` keeps spans (name, start, end, parent, op id) in memory.
  :meth:`Tracer.install` wraps the package's public functions named in
  :data:`WRAPPED` by replacing the module attributes (and every alias a
  package module imported by name), and :meth:`Tracer.uninstall` puts the
  originals back.
- :class:`SparkProbe` reads the Spark layers from outside the program:
  job group per operation plus the status tracker (jobs, stages, tasks,
  job run intervals), a ``QueryExecutionListener`` for Catalyst phase
  intervals and scan metrics, and a ``StreamingQueryListener`` for
  micro-batch progress.
- :func:`attribute` splits one operation's wall time into the layers
  build, catalyst, execute and fetch.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "questdb_etl_jobs_spark"

#: Span name -> (module, function) of the public functions the traced run
#: wraps. Several functions may share one span name (the SAMPLE BY family).
WRAPPED: dict[str, list[tuple[str, str]]] = {
    "sources.read_purchases_csv": [("sources.csv_source", "read_purchases_csv")],
    "pipeline.run_batch": [("pipeline", "run_batch")],
    "pipeline.anonymize_and_cast": [("pipeline", "anonymize_and_cast")],
    "plans.write_designated_ts": [("plans.designated", "write_designated_ts")],
    "sql.questdb_sql": [("sql.dialect", "questdb_sql")],
    "operators.sample_by": [
        ("operators.sample_by", "sample_by"),
        ("operators.sample_by", "sample_by_fill"),
        ("operators.sample_by", "fill_gaps"),
    ],
    "operators.latest_on": [("operators.latest", "latest_on")],
    "operators.asof_join": [("operators.asof", "asof_join")],
    "operators.topk_by_threshold": [("operators.topk", "topk_by_threshold")],
    "functions.stable_id": [("functions.hashing", "stable_id")],
    "streaming.run_stream_to_table": [
        ("streaming.file_stream", "run_stream_to_table")
    ],
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    kind: str  # "op", "call" (a package function) or "fetch"


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    op: int | None = None
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent, self.op, kind))
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_layerbench__ = fn
        return traced

    def install(self) -> None:
        """Wrap every function in :data:`WRAPPED`, in its defining module
        and wherever a loaded package module holds it under its name."""
        originals = {}
        for name, targets in WRAPPED.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                fn = getattr(mod, attr)
                originals[id(fn)] = (fn, self.wrap(name, fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod_name != PKG and not mod_name.startswith(PKG + "."):
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, hit[1])

    def uninstall(self) -> None:
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children[s.parent].append(i)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            kids = [(self.spans[k].start, self.spans[k].end) for k in children[i]]
            out[s.name] += (s.end - s.start) - _length(_union(kids))
        return dict(out)

    def inclusive(self, name: str) -> float:
        """Total time inside spans called ``name``, nested calls of the
        same name counted once."""
        return _length(_union(
            [(s.start, s.end) for s in self.spans if s.name == name]
        ))


# ---------------------------------------------------------------------------
# Interval arithmetic (seconds since the epoch)
# ---------------------------------------------------------------------------

def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)


def _minus(iv, cut):
    """``iv`` minus ``cut``; both unions of disjoint sorted intervals."""
    out = []
    for a, b in iv:
        pieces = [(a, b)]
        for c, d in cut:
            nxt = []
            for x, y in pieces:
                if d <= x or c >= y:
                    nxt.append((x, y))
                else:
                    if c > x:
                        nxt.append((x, c))
                    if d < y:
                        nxt.append((d, y))
            pieces = nxt
        out.extend(pieces)
    return out


def _clip(iv, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in iv if b > lo and a < hi]


def attribute(lo: float, hi: float, spans: list[Span], jobs, phases) -> dict[str, float]:
    """Split the wall time from ``lo`` to ``hi`` of one operation into
    layers. Precedence, highest first: a running Spark job (execute), a
    Catalyst phase, an Arrow fetch span, a package call (build). Time
    covered by none of them is ``unaccounted``."""
    taken = _union(_clip(jobs, lo, hi))
    out = {"execute": _length(taken)}
    for phase in ("analysis", "optimization", "planning"):
        mine = _minus(_union(_clip(phases.get(phase, []), lo, hi)), taken)
        out[f"catalyst.{phase}"] = _length(mine)
        taken = _union(taken + mine)
    for layer, kind in (("fetch", "fetch"), ("build", "call")):
        iv = _union(_clip([(s.start, s.end) for s in spans if s.kind == kind],
                          lo, hi))
        mine = _minus(iv, taken)
        out[layer] = _length(mine)
        taken = _union(taken + mine)
    out["unaccounted"] = (hi - lo) - _length(taken)
    return out


# ---------------------------------------------------------------------------
# Spark's outside-visible hooks
# ---------------------------------------------------------------------------

class _QueryListener:
    """py4j implementation of ``QueryExecutionListener``: records each
    finished action's Catalyst phase intervals and the files its scans
    read. Runs on Spark's listener thread."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = {}
        ph = qe.tracker().phases()
        it = ph.keysIterator()
        while it.hasNext():
            k = it.next()
            s = ph.apply(k)
            phases[k] = (s.startTimeMs() / 1e3, s.endTimeMs() / 1e3)
        scans = defaultdict(int)
        _walk_scans(qe.executedPlan(), scans)
        self.sink.append({"func": func_name, "phases": phases,
                          "scans": dict(scans)})

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.sink.append({"func": func_name, "failed": True, "phases": {},
                          "scans": {}})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _walk_scans(plan, scans) -> None:
    cls = plan.getClass().getSimpleName()
    if cls == "FileSourceScanExec":
        fmt = plan.relation().fileFormat().toString().lower()
        metric = plan.metrics().get("numFiles")
        if metric.isDefined():
            scans[fmt] += metric.get().value()
    if cls == "AdaptiveSparkPlanExec":
        _walk_scans(plan.executedPlan(), scans)
        return
    if cls.endswith("QueryStageExec"):
        _walk_scans(plan.plan(), scans)
        return
    it = plan.children().iterator()
    while it.hasNext():
        _walk_scans(it.next(), scans)


class SparkProbe:
    """Per-operation Spark layer readings from the job group, the status
    tracker and the listeners."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.queries: list[dict] = []
        self.progress: list[dict] = []
        ensure_callback_server_started(self.sc._gateway)
        self._qel = _QueryListener(self.queries)
        spark._jsparkSession.listenerManager().register(self._qel)
        self._sql = _stream_listener(self.progress)
        spark.streams.addListener(self._sql)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._qel)
        self.spark.streams.removeListener(self._sql)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs(self, group: str, window: tuple[float, float] | None = None) -> dict:
        """Run intervals and counts of the jobs in ``group`` and, when
        ``window`` is given, of every job submitted inside it (streaming
        jobs run under their query's own group)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        ids = set(tracker.getJobIdsForGroup(group))
        if window is not None:
            it = store.jobsList(None).iterator()
            while it.hasNext():
                data = it.next()
                sub = data.submissionTime()
                if sub.isDefined() and window[0] <= sub.get().getTime() / 1e3 <= window[1]:
                    ids.add(data.jobId())
        out = {"intervals": [], "jobs": len(ids), "stages": 0, "tasks": 0,
               "tasks_failed": 0}
        for jid in sorted(ids):
            data = store.job(jid)
            sub, end = data.submissionTime(), data.completionTime()
            if sub.isDefined() and end.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1e3, end.get().getTime() / 1e3)
                )
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    out["stages"] += 1
                    out["tasks"] += st.numCompletedTasks
                    out["tasks_failed"] += st.numFailedTasks
        return out

    def take_queries(self) -> list[dict]:
        got, self.queries[:] = list(self.queries), []
        return got


def _stream_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            sink.append({
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Listener()


def phase_intervals(queries: list[dict]) -> dict[str, list]:
    """Catalyst phase intervals of finished actions; parsing counts as
    analysis (both are the front end before optimization)."""
    out: dict[str, list] = defaultdict(list)
    for q in queries:
        for name, iv in q["phases"].items():
            out["analysis" if name == "parsing" else name].append(iv)
    return out


def write_trace(path: str, tracer: Tracer, per_op: list[dict], extra: dict) -> None:
    payload = {
        "spans": [vars(s) for s in tracer.spans],
        "self_times_s": tracer.self_times(),
        "ops": per_op,
        **extra,
    }
    with open(path, "w") as fh:
        json.dump(payload, fh)
