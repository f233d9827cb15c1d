"""In-memory spans and counters around calls into the program's layers.

A :class:`Tracer` records one span per call: name, start, end, parent
and the operation it belongs to. ``install_layers`` wraps the public
functions of the layers the benchmark calls into, by rebinding every
module-level reference to them inside the program's modules, and
``Tracer.uninstall`` restores the originals. Nothing in the program itself is edited. The
wrappers copy the wrapped function's module and qualified name, so a
Spark UDF that references one still pickles by reference and the
workers run the unwrapped original.

:func:`spark_op_metrics` reads Spark's per-job and per-stage counters
for one operation's job groups from the driver's status store.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "clickhouse_modules_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    child_s: float = 0.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    op: int | None = None
    self_s: float = 0.0
    thread: int = field(default_factory=threading.get_ident)
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    # -- spans ---------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent is not None:
            self.spans[span.parent].child_s += span.end - span.start

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def active(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    # -- wrapping the program's functions ------------------------------

    def wrap(self, fn, name: str, on_call=None, before=None):
        """A wrapper recording span ``name`` around ``fn``. Nested calls
        of the same span name record only the outermost call; calls
        from other threads than the benchmark's client thread are counted
        under ``trace.offthread_calls`` and not timed.
        ``before(args, kwargs)`` and ``on_call(args, kwargs, result)``
        add counts before and after an outermost call."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            if threading.get_ident() != tracer.thread:
                tracer.count("trace.offthread_calls")
                return fn(*args, **kwargs)
            if tracer.active(name):
                tracer.self_s += time.perf_counter() - t0
                return fn(*args, **kwargs)
            if before is not None:
                before(args, kwargs)
            idx = tracer.begin(name)
            tracer.self_s += time.perf_counter() - t0
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer.end(idx)
                tracer.count(f"{name}.calls")
                tracer.self_s += time.perf_counter() - t1
            if on_call is not None:
                t2 = time.perf_counter()
                on_call(args, kwargs, result)
                tracer.self_s += time.perf_counter() - t2
            return result

        return wrapper

    def patch(
        self, module_name: str, attr: str, name: str, on_call=None, before=None
    ) -> None:
        """Rebind every reference to ``module_name.attr`` in the
        program's loaded modules to a tracing wrapper."""
        module = importlib.import_module(module_name)
        target = getattr(module, attr)
        wrapper = self.wrap(target, name, on_call, before)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname == PKG or mname.startswith(PKG + ".") or mname == "__spark_entry__"):
                continue
            for key, value in list(vars(mod).items()):
                if value is target:
                    setattr(mod, key, wrapper)
                    self._patches.append((mod, key, target))

    def patch_public_functions(self, module_name: str, name: str) -> None:
        """Wrap every public function defined in ``module_name``."""
        module = importlib.import_module(module_name)
        for attr, value in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(value)
                and value.__module__ == module_name
                and not hasattr(value, "evalType")  # Spark UDF objects
            ):
                self.patch(module_name, attr, name)

    def uninstall(self) -> None:
        for owner, key, original in reversed(self._patches):
            setattr(owner, key, original)
        self._patches.clear()

    # -- summaries -----------------------------------------------------

    def durations(self, name: str, ops: set[int] | None = None) -> list[float]:
        return [
            s.end - s.start for s in self.spans
            if s.name == name and (ops is None or s.op in ops)
        ]

    def self_times(self, name: str, ops: set[int] | None = None) -> list[float]:
        return [
            s.end - s.start - s.child_s for s in self.spans
            if s.name == name and (ops is None or s.op in ops)
        ]

    def calls(self, name: str, ops: set[int] | None = None) -> int:
        return len(self.durations(name, ops))


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        self.idx = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.end(self.idx)
        return False


def install_layers(tracer: Tracer) -> None:
    """Wrap the public entry points of the traced layers: session,
    tables, reconcile introspection and engine, ch_sql and operators.
    Catalog, query, ddl and streaming calls are spanned where the
    workloads make them."""
    from clickhouse_modules_spark import tables

    def schema_cached(args, kwargs):
        path = args[1] if len(args) > 1 else kwargs["path"]
        if tables._cache_key(path) in tables._SCHEMA_CACHE:
            tracer.count("tables.pscan_hits")

    tracer.patch(f"{PKG}.tables", "pscan", "tables.pscan", before=schema_cached)
    tracer.patch(f"{PKG}.session", "configure_session", "session.configure")
    tracer.patch_public_functions(f"{PKG}.reconcile.introspect", "introspect")
    for fn in ("plan_user", "plan_roles", "plan_grants"):
        tracer.patch(
            f"{PKG}.reconcile.engine", fn, "plan",
            on_call=lambda a, k, r: tracer.count("plan.statements", len(r)),
        )
    tracer.patch(f"{PKG}.reconcile.engine", "apply_statements", "apply")
    tracer.patch(f"{PKG}.functions.ch_sql", "translate", "ch_sql.translate")
    tracer.patch(f"{PKG}.functions.ch_sql", "ch_sql", "ch_sql.run")
    ops_pkg = importlib.import_module(f"{PKG}.operators")
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        tracer.patch_public_functions(f"{PKG}.operators.{info.name}", "operators")


# ------------------------------------------------------- Spark counters

STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("memory_spill_bytes", "memoryBytesSpilled", 1),
    ("disk_spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
)


def stage_table(spark) -> dict[int, dict]:
    """Every retained stage's counters, keyed by stage id, read through
    the driver's status store. Raises when the (private) store API is
    unavailable; callers record that failure in their output."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    args = [sc._jvm.java.util.ArrayList()] + [
        getattr(store, f"stageList$default${i}")() for i in range(2, 6)
    ]
    out: dict[int, dict] = {}
    it = store.stageList(*args).iterator()
    while it.hasNext():
        st = it.next()
        row = {k: getattr(st, m)() * scale for k, m, scale in STAGE_FIELDS}
        row["tasks"] = st.numTasks()
        row["skipped"] = str(st.status().toString()) == "SKIPPED"
        sid = st.stageId()
        prev = out.get(sid)
        if prev is None:
            out[sid] = row
        else:  # a retried attempt: add its work
            for k in row:
                if k != "skipped":
                    prev[k] += row[k]
    return out


def jobs_for_groups(spark, groups: list[str]) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    jobs: list[int] = []
    for g in groups:
        jobs.extend(tracker.getJobIdsForGroup(g))
    return jobs


def spark_op_metrics(spark, groups: list[str], stages: dict[int, dict]) -> dict:
    """Jobs, stages, tasks and stage counters of one operation."""
    tracker = spark.sparkContext.statusTracker()
    jobs = jobs_for_groups(spark, groups)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0}
    for k, _m, _s in STAGE_FIELDS:
        out[k] = 0.0
    for sid in stage_ids:
        st = stages.get(sid)
        if st is None or st["skipped"]:
            continue
        out["stages"] += 1
        out["tasks"] += st["tasks"]
        for k, _m, _s in STAGE_FIELDS:
            out[k] += st[k]
    return out
