"""Tracing from the benchmark's own files.

Spans are opened around calls into each layer's public functions. The
wrappers replace the functions where callers look them up: the defining
module's attribute, and every engine module that bound the same function
object at import (``queries/docx.py`` binds ``sectionize`` that way).
Functions imported at call time (``from .clustering import
cached_substrates`` inside a query) are looked up on the defining module
and so see the module attribute.

Spark work is attributed after each operation: every operation runs
under its own job group, and the jobs of that group, their stages and
the SQL executions are read from the status store. A job is attached to
the innermost span open when it was submitted. Python worker metrics are
read from the SQL metrics of the executions the operation started.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
Spans and operations are timed with one clock, the wall clock Spark's
status store uses. Two checks fail the traced run: more than
RECONCILE_TOL of an operation's wall time covered by no layer span, and
a job of the operation's group running outside the operation.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from . import stats

PKG = "etl_ai_assistent_spark"

# layer name -> (module, names); None means every public function the
# module defines itself
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "io": (f"{PKG}.io", ("load_table",)),
    "sources.docx": (f"{PKG}.sources.docx", ("scan_docx", "scan_docx_media")),
    "operators.chunker": (f"{PKG}.operators.chunker", ("recursive_chunks", "fixed_chunks")),
    "operators.embedder": (f"{PKG}.operators.embedder", None),
    "operators.sectionizer": (f"{PKG}.operators.sectionizer", None),
    "operators.dedup": (f"{PKG}.operators.dedup", None),
    "operators.similarity": (f"{PKG}.operators.similarity", None),
    "operators.rank": (f"{PKG}.operators.rank", None),
    "store": (f"{PKG}.store", None),
    "substrate": (f"{PKG}.queries.clustering", ("cached_substrates",)),
}


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _resolve(module: str, name: str):
    """Unpickling target of a wrapper: the named function as the
    importing process sees it (the original, in a Spark worker)."""
    return getattr(importlib.import_module(module), name)


class Traced:
    """A wrapped public function. Pickles as a reference to the
    original, so a UDF closure that captured the wrapper ships the
    original to the Python workers."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        self.fn = fn
        self.layer = layer
        self.tracer = tracer
        self.__name__ = fn.__name__
        self.__doc__ = fn.__doc__
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.layer, self.fn.__name__) as sp:
            if self.layer == "substrate":
                # cached_substrates(name, spark, sf_dir, build): build runs on a miss
                *head, build = args
                args = (*head, self.tracer.wrap_build(build))
            out = self.fn(*args, **kwargs)
            if self.fn.__name__ == "publish":  # store.publish -> True when adopted
                sp.result = bool(out)
                if not out:
                    sp.bytes = _du(args[0])
            return out

    def __reduce__(self):
        return _resolve, (self.fn.__module__, self.fn.__name__)


@dataclass
class Span:
    sid: int
    op: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    result: bool | None = None  # store.publish: True = adopted
    bytes: int = 0  # store.publish: bytes of a store it built
    jobs: list[int] = field(default_factory=list)


@dataclass
class Op:
    oid: int
    kind: str
    group: str
    start: float
    end: float = 0.0
    root: int = -1  # sid of the operation's root span
    exec_: dict = field(default_factory=dict)
    python: dict = field(default_factory=dict)


def _module_functions(mod, names):
    if names is not None:
        return {n: getattr(mod, n) for n in names}
    out = {}
    for n, f in vars(mod).items():
        if n.startswith("_") or not inspect.isfunction(f):
            continue
        # defined here, not imported, and not a pyspark UDF wrapper
        code = getattr(f, "__code__", None)
        if code is not None and code.co_filename == mod.__file__ and not hasattr(f, "evalType"):
            out[n] = f
    return out


class Tracer:
    """Span recorder plus the installer of the layer wrappers."""

    def __init__(self):
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[Span] = []
        self._op: Op | None = None
        self._undo: list[tuple[object, str, object]] = []
        self.bindings: dict[str, int] = {}

    # --- installation ----------------------------------------------------
    def install(self) -> None:
        mods = {layer: importlib.import_module(m) for layer, (m, _) in LAYERS.items()}
        engine_mods = [m for k, m in list(sys.modules.items()) if k.startswith(PKG) and m]
        for layer, (modname, names) in LAYERS.items():
            funcs = _module_functions(mods[layer], names)
            if not funcs:
                raise RuntimeError(f"layer {layer}: no public functions in {modname}")
            n_bound = 0
            for name, fn in funcs.items():
                if not callable(fn) or isinstance(fn, Traced):
                    raise RuntimeError(f"layer {layer}: {modname}.{name} is not wrappable")
                w = Traced(fn, layer, self)
                for m in engine_mods:
                    for attr, val in list(vars(m).items()):
                        if val is fn:
                            self._undo.append((m, attr, fn))
                            setattr(m, attr, w)
                            n_bound += 1
            if n_bound < len(funcs):
                raise RuntimeError(f"layer {layer}: a function of {modname} was not bound")
            self.bindings[layer] = n_bound

    def uninstall(self) -> None:
        for m, attr, fn in reversed(self._undo):
            setattr(m, attr, fn)
        self._undo.clear()

    # --- spans -------------------------------------------------------------
    @contextmanager
    def op(self, kind: str, spark):
        """One operation under its own job group; the root span."""
        oid = len(self.ops)
        group = f"docbench-{oid}-{kind}"
        spark.sparkContext.setJobGroup(group, kind)
        o = Op(oid, kind, group, time.time())
        self._op = o
        try:
            with self.span("op", kind) as root:
                o.root = root.sid
                yield o
        finally:
            o.end = time.time()
            self._op = None
            spark.sparkContext.setJobGroup("docbench-idle", "idle")
            self.ops.append(o)
            attach_spark(self, o, spark)

    @contextmanager
    def span(self, layer: str, name: str):
        if self._op is None:  # a layer call outside any operation
            yield Span(-1, -1, layer, name, None, 0.0)
            return
        sp = Span(len(self.spans), self._op.oid, layer, name,
                  self._stack[-1].sid if self._stack else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def wrap_build(self, build):
        def traced_build():
            with self.span("substrate", "build"):
                return build()

        return traced_build

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"ops": [asdict(o) for o in self.ops],
                       "spans": [asdict(s) for s in self.spans]}, f)


# --- Spark status store ------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


# the status store keeps job times in whole milliseconds
JOB_CLOCK_TOL = 0.002

PY_METRICS = {
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}


def attach_spark(tr: Tracer, o: Op, spark) -> None:
    """Read the operation's jobs, stages and SQL executions from the
    status store; attach each job to the span open at its submission.
    Raises when a job of the operation's group ran outside it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    slots = sc.defaultParallelism
    spans = [s for s in tr.spans if s.op == o.oid]
    e = defaultdict(float)
    job_iv = []
    for jid in sc.statusTracker().getJobIdsForGroup(o.group):
        jd = store.job(jid)
        sub, done = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if sub is None:
            continue
        if done is None or sub < o.start - JOB_CLOCK_TOL or done > o.end + JOB_CLOCK_TOL:
            raise RuntimeError(
                f"job {jid} of {o.group} ran outside the operation: [{sub}, {done}] "
                f"vs [{o.start}, {o.end}]")
        job_iv.append((sub, done))
        e["jobs"] += 1
        inner = [s for s in spans if s.start <= sub <= (s.end or o.end)]
        if inner:
            max(inner, key=lambda s: s.start).jobs.append(jid)
        for sid in _iter(jd.stageIds()):
            st = store.lastStageAttempt(sid)
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its output was reused
            s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            run_s = st.executorRunTime() / 1000.0
            e["stages"] += 1
            e["tasks"] += st.numTasks()
            e["task_run_s"] += run_s
            e["task_cpu_s"] += st.executorCpuTime() / 1e9
            e["gc_s"] += st.jvmGcTime() / 1000.0
            e["input_bytes"] += st.inputBytes()
            e["shuffle_read_bytes"] += st.shuffleReadBytes()
            e["shuffle_write_bytes"] += st.shuffleWriteBytes()
            e["spill_bytes"] += st.diskBytesSpilled()
            if s0 is not None and s1 is not None:
                e["sched_gap_s"] += max(0.0, (s1 - s0) * min(st.numTasks(), slots) - run_s)
    e["wall_s"] = stats.union_length(job_iv)
    o.exec_ = dict(e)

    # Python worker metrics of the SQL executions started inside it
    sq = spark._jsparkSession.sharedState().statusStore()
    n = sq.executionsCount()
    py = defaultdict(float)
    jvm = sc._gateway.jvm
    for ex in _iter(sq.executionsList(max(0, n - 50), min(n, 50))):
        if not o.start <= ex.submissionTime() / 1000.0 <= o.end:
            continue
        for node in _iter(sq.planGraph(ex.executionId()).allNodes()):
            for m in _iter(node.metrics()):
                key = PY_METRICS.get(m.name())
                if key is None:
                    continue
                acc = jvm.org.apache.spark.util.AccumulatorContext.get(m.accumulatorId())
                if acc.isDefined():
                    v = float(acc.get().value())
                    py[key] += v / 1000.0 if key == "run_s" else v
    o.python = dict(py)


# --- per-layer summary -----------------------------------------------------------

EXEC_UNITS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_s": "s", "task_cpu_s": "s", "sched_gap_s": "s", "gc_s": "s",
    "input_bytes": "B", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}
PY_UNITS = {"run_s": "s", "bytes_sent": "B", "bytes_received": "B"}
RECONCILE_TOL = 0.01  # share of an operation's wall time no layer span covers
OPERATOR_LAYERS = [k for k in LAYERS if k.startswith(("operators.", "sources."))]


def self_times(tr: Tracer, oid: int) -> dict[int, float]:
    spans = [s for s in tr.spans if s.op == oid]
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: stats.self_time(s.start, s.end, kids[s.sid]) for s in spans}


def reconcile_errors(tr: Tracer, ops: list[Op]) -> list[float]:
    """Per operation: the share of its wall time (its root span) that no
    layer span covers."""
    out = []
    for o in ops:
        root = tr.spans[o.root]
        kids = [(s.start, s.end) for s in tr.spans if s.op == o.oid and s.parent == o.root]
        out.append(stats.uncovered_share(root.start, root.end, kids))
    return out


def layer_metrics(tr: Tracer, setup_ops: list[Op], n_setups: int, ops: list[Op], declared,
                  input_bytes: int) -> dict:
    """Per-layer metrics: per traced window operation, except the store
    and substrate build metrics, which are per set-up (the window only
    adopts stores and hits substrates). Raises when a layer the workload
    declares recorded no call, or when more than RECONCILE_TOL of an
    operation's wall time lies outside every layer span."""
    if not ops:
        raise RuntimeError("traced window ran no operation")
    ids = {o.oid for o in ops}
    spans = [s for s in tr.spans if s.op in ids]
    by_id = {s.sid: s for s in tr.spans}
    n = len(ops)

    def dur(ss):
        return sum(s.end - s.start for s in ss)

    def under(s, layer):
        while s is not None:
            if s.layer == layer:
                return True
            s = by_id.get(s.parent)
        return False

    def layer(name):
        return [s for s in spans if s.layer == name]

    selfs = {}
    for o in ops:
        selfs.update(self_times(tr, o.oid))
    out: dict[str, tuple[float, str]] = {}
    io = layer("io")
    out["io.load_calls"] = (len(io) / n, "count")
    out["io.load_s"] = (dur(io) / n, "s")
    out["io.load_jobs"] = (sum(len(s.jobs) for s in io) / n, "count")
    q = layer("queries")
    out["queries.build_s"] = (dur(q) / n, "s")
    out["queries.build_jobs"] = (sum(len(s.jobs) for s in spans if under(s, "queries")) / n, "count")
    out["queries.self_s"] = (sum(selfs[s.sid] for s in q) / n, "s")
    out["plan.s"] = (dur(layer("plan")) / n, "s")
    for lay in OPERATOR_LAYERS:
        ss = layer(lay)
        out[f"{lay}.calls"] = (len(ss) / n, "count")
        out[f"{lay}.s"] = (dur(ss) / n, "s")
    for k, unit in EXEC_UNITS.items():
        out[f"exec.{k}"] = (sum(o.exec_.get(k, 0.0) for o in ops) / n, unit)
    for k, unit in PY_UNITS.items():
        out[f"python.{k}"] = (sum(o.python.get(k, 0.0) for o in ops) / n, unit)

    st = layer("store")
    out["store.calls"] = (len(st) / n, "count")
    out["store.s"] = (sum(selfs[s.sid] for s in st) / n, "s")
    sids = {o.oid for o in setup_ops}
    setup_spans = [s for s in tr.spans if s.op in sids]
    pubs = [s for s in setup_spans if s.layer == "store" and s.name == "publish"]
    built = [s for s in pubs if s.result is False]
    m = max(n_setups, 1)
    written = sum(s.bytes for s in built)
    out["store.publish_calls"] = (len(pubs) / m, "count")
    out["store.builds"] = (len(built) / m, "count")
    out["store.adopts"] = (sum(s.result is True for s in pubs) / m, "count")
    out["store.build_s"] = (dur(built) / m, "s")
    out["store.bytes_written"] = (written / m, "B")
    out["store.bytes_per_input_byte"] = (
        written / (len(built) * input_bytes) if built else 0.0, "ratio")

    sub = [s for s in layer("substrate") if s.name != "build"]
    hits = len(sub) - sum(s.name == "build" for s in layer("substrate"))
    builds = [s for s in setup_spans if s.layer == "substrate" and s.name == "build"]
    out["substrate.calls"] = (len(sub) / n, "count")
    out["substrate.hits"] = (hits / n, "count")
    out["substrate.hit_ratio"] = (hits / len(sub) if sub else 0.0, "share")
    out["substrate.builds"] = (len(builds) / m, "count")
    out["substrate.build_s"] = (dur(builds) / m, "s")

    err = max(reconcile_errors(tr, ops))
    if err > RECONCILE_TOL:
        raise RuntimeError(f"layer spans leave {err:.2%} of an operation's wall uncovered")
    out["trace.ops"] = (n, "count")
    out["trace.reconcile_err_max"] = (err, "share")

    calls = {
        "python": out["python.bytes_sent"][0],
        "store": out["store.calls"][0],
        "substrate": out["substrate.calls"][0],
        **{lay: len(layer(lay)) for lay in ("io", "queries", "plan", *OPERATOR_LAYERS)},
    }
    silent = [lay for lay in declared if not calls[lay]]
    if silent:
        raise RuntimeError(
            f"declared layers recorded no call: {silent} (bindings {tr.bindings})")
    return out
