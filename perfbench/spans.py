"""Span tracing for the benchmark's traced runs.

The benchmark measures golem_spark from outside: ``Tracer.install`` replaces
the public functions of each traced module (and the data-pass methods of the
backend classes) with wrappers that record a span per call. A wrapper is
installed at every attribute that holds the original function, so a caller
that bound the function at import time (``solvers`` binds ``prox`` functions,
``path`` binds ``screening`` and ``solvers`` functions) resolves the wrapper.
``Tracer.uninstall`` puts the originals back.

Spans stay in memory; ``op_layers`` turns one op's spans into per-layer
counts and times and ``spark_layer`` adds the Spark jobs and stages that
Spark's status store recorded inside the op's interval.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
import types

# layer name -> (module, public functions are traced, extra entry points)
LAYERS = {
    "backends": ("golem_spark.backends", False,
                 ("build_spark_backend", "build_sparse_backend")),
    "solvers": ("golem_spark.solvers", True, ()),
    "prox": ("golem_spark.prox", True, ()),
    "screening": ("golem_spark.screening", True, ()),
    "path": ("golem_spark.path", True, ()),
    "cv": ("golem_spark.cv", True, ()),
    "predict": ("golem_spark.predict", True, ()),
    # the scoring queries import these two private entry points directly
    "score": ("golem_spark.score", True, ("_score_spark", "_spark_auc_all")),
    "operators.graph": ("golem_spark.operators.graph", True, ()),
    "pipeline.dedup": ("golem_spark.pipeline.dedup", True, ()),
}

# backend methods that run a data pass (or a cached stand-in for one)
BACKEND_METHODS = ("eval", "eval_hess", "eval_multi", "eval_hess_multi",
                   "gram", "xty", "xty_yty", "gaussian_sufficient_stats",
                   "weighted_gram", "multinomial_hessian",
                   "lambda_max_gradient", "null_intercepts")
BACKEND_BUILDERS = ("build_spark_backend", "build_sparse_backend")

# the layer of the op's own entry point, by the module that defines it
QUERY_LAYERS = {"golem_spark.glm_queries": "glm_queries",
                "golem_spark.pipeline.kernels": "pipeline.kernels"}

SPAN_LAYERS = tuple(LAYERS) + ("glm_queries", "pipeline.kernels",
                               "materialize")


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "children",
                 "flag")

    def __init__(self, layer: str, name: str, parent: "Span | None"):
        self.layer = layer
        self.name = name
        self.parent = parent
        self.children: list[Span] = []
        self.flag = None  # path points (owl) or violation found (kkt_check)
        self.start = time.perf_counter()
        self.end = None
        if parent is not None:
            parent.children.append(self)

    def duration(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        covered = union_length([(c.start, c.end) for c in self.children],
                               self.start, self.end)
        return self.duration() - covered

    def to_json(self) -> dict:
        return {"layer": self.layer, "name": self.name,
                "start": self.start, "end": self.end, "flag": self.flag,
                "children": [c.to_json() for c in self.children]}


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class _Traced:
    """Callable stand-in for a traced function or method."""

    def __init__(self, tracer: "Tracer", layer: str, fn, owner, attr: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn = tracer, layer, fn
        self._owner, self._attr = owner, attr

    def __call__(self, *args, **kwargs):
        span = self._tracer.open(self._layer, self._attr)
        try:
            out = self._fn(*args, **kwargs)
            if self._attr == "owl":
                span.flag = len(out.sigma)
            elif self._attr == "kkt_check":
                span.flag = bool(len(out))
            return out
        finally:
            self._tracer.close(span)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        # a closure shipped to a Python worker carries the original
        return getattr, (self._owner, self._attr)


class Tracer:
    """Records spans for the op running on the calling (main) thread.

    A span opened on a thread with no open span of its own (a thread-pool
    worker of ``cv``) is parented to the innermost span open on the thread
    that began the op.
    """

    def __init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, layer: str, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (
                self._main_stack[-1] if self._main_stack else None)
            span = Span(layer, name, parent)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    # -- wrapping ------------------------------------------------------------
    def install(self) -> None:
        targets = []  # (layer, owner, attr, original)
        for layer, (modname, public, extra) in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, val in list(vars(mod).items()):
                if not isinstance(val, types.FunctionType) \
                        or val.__module__ != modname:
                    continue
                if (public and not attr.startswith("_")) or attr in extra:
                    targets.append((layer, mod, attr, val))
            if modname == "golem_spark.backends":
                for cls in vars(mod).values():
                    if isinstance(cls, type) and cls.__module__ == modname:
                        for attr in BACKEND_METHODS:
                            val = vars(cls).get(attr)
                            if isinstance(val, types.FunctionType):
                                targets.append((layer, cls, attr, val))
        originals = {id(t[3]): t for t in targets if not isinstance(t[1], type)}
        for layer, owner, attr, fn in targets:
            self._patch(owner, attr, _Traced(self, layer, fn, owner, attr))
        # every other module attribute bound to a traced function
        for name, mod in list(sys.modules.items()):
            if not (name.startswith("golem_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[3] is val:
                    layer, owner, oattr, fn = hit
                    self._patch(mod, attr, _Traced(self, layer, fn, owner, oattr))

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


# -- per-op arithmetic ------------------------------------------------------
def _walk(span: Span):
    yield span
    for c in span.children:
        yield from _walk(c)


def _inside(span: Span, layer: str, name: str) -> bool:
    p = span.parent
    while p is not None:
        if p.layer == layer and p.name == name:
            return True
        p = p.parent
    return False


def op_layers(root: Span) -> dict[str, float]:
    """Layer metrics of one op from its root span.

    ``<layer>.self_s`` sums each span's duration minus the part its child
    spans cover; ``<layer>.busy_s`` is the union of the layer's spans;
    ``<layer>.calls`` counts spans not nested in a span of the same layer.
    ``trace.residual_s`` is the op's wall time minus every layer's self
    time; it goes negative when layer code runs on several threads at once
    (the ``cv`` thread pool).
    """
    spans = [s for s in _walk(root) if s is not root]
    out: dict[str, float] = {}
    for layer in SPAN_LAYERS:
        mine = [s for s in spans if s.layer == layer]
        outer = [s for s in mine if s.parent is None or s.parent.layer != layer]
        out[f"{layer}.calls"] = float(len(outer))
        out[f"{layer}.busy_s"] = union_length(
            [(s.start, s.end) for s in mine], root.start, root.end)
        out[f"{layer}.self_s"] = sum(s.self_time() for s in mine)
    builds = [s for s in spans if s.layer == "backends"
              and s.name in BACKEND_BUILDERS]
    out["backends.build_s"] = union_length(
        [(s.start, s.end) for s in builds], root.start, root.end)
    passes = [s for s in spans if s.layer == "backends"
              and s.name not in BACKEND_BUILDERS
              and (s.parent is None or s.parent.layer != "backends")]
    out["backends.calls"] = float(len(passes))
    owls = [s for s in spans if s.layer == "path" and s.name == "owl"]
    out["path.points"] = float(sum(s.flag or 0 for s in owls))
    out["path.backend_calls"] = float(sum(
        1 for s in passes if _inside(s, "path", "owl")))
    kkt = [s for s in spans if s.layer == "screening" and s.name == "kkt_check"]
    out["screening.kkt_calls"] = float(len(kkt))
    out["screening.kkt_violations"] = float(sum(1 for s in kkt if s.flag))
    out["wall_s"] = root.duration()
    out["trace.residual_s"] = root.duration() - sum(
        out[f"{layer}.self_s"] for layer in SPAN_LAYERS)
    return out


# -- Spark status store -----------------------------------------------------
# records are listed newest first, roughly by submission time; reading stops
# after this many records older than the window
_EDGE = 64

class StatusStore:
    """Reads job and stage records from Spark's status store over py4j.

    The store is kept with ``spark.ui.enabled=false``. Records are read once,
    at the end of the run, for the jobs and stages submitted at or after
    ``since_ms`` (epoch milliseconds).
    """

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()

    def persisted_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def jobs_since(self, since_ms: int) -> list[dict]:
        jvm = self._sc._jvm
        seq = self._store.jobsList(jvm.java.util.ArrayList())
        out, older = [], 0
        for i in range(seq.size()):  # newest first
            j = seq.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime()
            if t0 < since_ms:
                older += 1
                if older > _EDGE:
                    break
                continue
            done = j.completionTime()
            out.append({"job": j.jobId(), "start_ms": t0,
                        "end_ms": done.get().getTime() if done.isDefined()
                        else None})
        return out

    def stages_since(self, since_ms: int) -> list[dict]:
        jvm, gw = self._sc._jvm, self._sc._gateway
        seq = self._store.stageList(jvm.java.util.ArrayList(), False, False,
                                    gw.new_array(jvm.double, 0),
                                    jvm.java.util.ArrayList())
        out, older = [], 0
        for i in range(seq.size()):  # newest first
            s = seq.apply(i)
            sub = s.submissionTime()
            if not sub.isDefined():
                continue  # skipped: its output was reused
            t0 = sub.get().getTime()
            if t0 < since_ms:
                older += 1
                if older > _EDGE:
                    break
                continue
            out.append({
                "stage": s.stageId(), "attempt": s.attemptId(), "start_ms": t0,
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled()})
        return out


def spark_layer(start_ms: float, end_ms: float, wall_s: float,
                jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    """``spark.*`` metrics of the op that ran over [start_ms, end_ms] (epoch
    milliseconds) and took ``wall_s``: the job-busy time and the driver gap
    add up to ``wall_s``."""
    mine = [j for j in jobs if start_ms <= j["start_ms"] <= end_ms]
    st = [s for s in stages if start_ms <= s["start_ms"] <= end_ms]
    busy = union_length([(j["start_ms"], j["end_ms"] or end_ms) for j in mine],
                        start_ms, end_ms) / 1e3
    return {
        "spark.jobs": float(len(mine)),
        "spark.stages": float(len(st)),
        "spark.tasks": float(sum(s["tasks"] for s in st)),
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": wall_s - busy,
        "spark.scans": float(sum(1 for s in st if s["input_bytes"] > 0)),
        "spark.input_bytes": float(sum(s["input_bytes"] for s in st)),
        "spark.executor_run_s": sum(s["run_ms"] for s in st) / 1e3,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "spark.shuffle_read_bytes": float(sum(s["shuffle_read_bytes"] for s in st)),
        "spark.shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in st)),
        "spark.spill_bytes": float(sum(s["spill_bytes"] for s in st)),
        "spark.failed_tasks": float(sum(s["failed_tasks"] for s in st)),
    }
