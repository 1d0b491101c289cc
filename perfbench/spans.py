"""Per-layer tracing for the traced run.

Spans are recorded from this file only: the public functions of each layer
are wrapped in place (module attributes and class methods), so the engine's
own code is unchanged. Each operation (one HTTP request holding the engine
lock, or one builder plan) gets an id that is also set as the Spark job
group of its thread, which lets ``event_log_jobs`` map the Spark event log
back to operations.

A layer's self time is the time its spans cover minus the time their direct
child spans cover, so each instant counts for the innermost layer only. A
layer's inclusive time counts its outermost spans only.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict

now = time.perf_counter


class Op:
    def __init__(self, op_id: str):
        self.id = op_id
        self.self_ms: dict[str, float] = defaultdict(float)
        self.incl_ms: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.fn_ms: dict[str, float] = defaultdict(float)  # per wrapped function, outermost
        self.sql_ms: list[float] = []  # each SparkSession.sql call, in order
        self.lock_wait_ms = 0.0
        self.busy_ms = 0.0
        self.result_bytes = 0
        self.persists = 0
        self.write_bytes = 0
        self.cached_rdds = 0


class Tracer:
    def __init__(self):
        self.enabled = False
        self.ops: list[Op] = []
        self._tls = threading.local()
        self._seq = 0
        self._mu = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.spark = None

    # ---- operations ---------------------------------------------------
    def current(self) -> Op | None:
        return getattr(self._tls, "op", None) if self.enabled else None

    def begin(self, kind: str) -> Op | None:
        if not self.enabled:
            return None
        with self._mu:
            self._seq += 1
            op = Op(f"perfbench-op-{self._seq}")
        self._tls.op = op
        self._tls.stack = []
        self._tls.depth = defaultdict(int)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(op.id, kind)
        op.t0 = now()
        return op

    def end(self, op: Op | None) -> None:
        if op is None:
            return
        op.busy_ms = (now() - op.t0) * 1000
        if self.spark is not None:
            op.cached_rdds = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
        with self._mu:
            self.ops.append(op)
        self._tls.op = None

    # ---- spans --------------------------------------------------------
    def span(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            op = tracer.current()
            if op is None:
                return fn(*a, **kw)
            tls = tracer._tls
            tls.depth[layer] += 1
            tls.depth[name] += 1
            frame = [0.0]  # time covered by direct child spans
            tls.stack.append(frame)
            t0 = now()
            try:
                return fn(*a, **kw)
            finally:
                dur = (now() - t0) * 1000
                tls.stack.pop()
                tls.depth[layer] -= 1
                tls.depth[name] -= 1
                op.calls[name] += 1
                op.self_ms[layer] += dur - frame[0]
                if tls.stack:
                    tls.stack[-1][0] += dur
                if tls.depth[layer] == 0:
                    op.incl_ms[layer] += dur
                if tls.depth[name] == 0:
                    op.fn_ms[name] += dur
                if name == "SparkSession.sql":
                    op.sql_ms.append(dur)
        return wrapper

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new``, and every alias of the old object
        that the engine's modules bound by name."""
        orig = getattr(owner, attr)
        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                mod for name, mod in list(sys.modules.items())
                if name.startswith("duckdb_service_spark") and mod is not owner
                and getattr(mod, attr, None) is orig
            ]
        for t in targets:
            self._patched.append((t, attr, orig))
            setattr(t, attr, new)

    def patch(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        """Wrap ``owner.attr`` (and its aliases) in a span of ``layer``."""
        self.replace(owner, attr, self.span(layer, name or attr, getattr(owner, attr)))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def instrument_service(tracer: Tracer, server) -> None:
    """Wrap the service layers of an in-process ``EngineHTTPServer``."""
    from duckdb_service_spark.service import catalog, dialect, dml, executor, serializer, sql_routing

    tracer.patch(executor.Engine, "run_statement", "executor", "Engine.run_statement")
    tracer.patch(executor.Engine, "execute", "executor", "Engine.execute")
    tracer.patch(executor.Engine, "query_df", "executor", "Engine.query_df")
    tracer.patch(dialect, "translate", "dialect")
    for mod in (sql_routing, dialect):
        for attr in sorted(vars(mod)):
            if attr.startswith(("rewrite_", "route_")) and callable(getattr(mod, attr)):
                tracer.patch(mod, attr, "sql_routing")
    tracer.patch(type(tracer.spark), "sql", "spark.analyze", "SparkSession.sql")
    for fn in ("insert_values", "insert_select", "update_rows", "delete_rows"):
        tracer.patch(dml, fn, "dml")
    _patch_catalog_writes(tracer, catalog.Catalog)
    _patch_query_result(tracer, serializer)
    _patch_persist(tracer)
    server.lock = TracedLock(server.lock, tracer)


def instrument_builder(tracer: Tracer) -> None:
    """Wrap the builder-path layers: table loading and persists."""
    from duckdb_service_spark import sources
    from duckdb_service_spark.sources import tables

    tracer.patch(sources, "load_tables", "sources")
    tracer.patch(tables, "_read_table", "sources")
    _patch_persist(tracer)


def _patch_query_result(tracer: Tracer, serializer) -> None:
    """Span on the serializer; the result size is measured outside it."""
    tracer.patch(serializer, "query_result", "serializer")
    spanned = serializer.query_result

    def query_result(df, limit=None):
        out = spanned(df, limit)
        op = tracer.current()
        if op is not None:
            op.result_bytes += len(json.dumps(out, default=str))
        return out

    tracer.replace(serializer, "query_result", query_result)


def _patch_persist(tracer: Tracer) -> None:
    DataFrame = type(tracer.spark.range(0))  # the concrete (classic) class
    for attr in ("persist", "cache"):
        orig = getattr(DataFrame, attr)

        def counted(self, *a, __orig=orig, **kw):
            op = tracer.current()
            if op is not None:
                op.persists += 1
            return __orig(self, *a, **kw)

        tracer.replace(DataFrame, attr, counted)


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


def _patch_catalog_writes(tracer: Tracer, Catalog) -> None:
    """Span on each catalog write; the files it adds are counted outside it."""
    for attr in ("overwrite", "overwrite_partitions", "append"):
        tracer.patch(Catalog, attr, "catalog", f"Catalog.{attr}")
        spanned = getattr(Catalog, attr)

        def write(self, name, df, __orig=spanned):
            op = tracer.current()
            if op is None:
                return __orig(self, name, df)
            path = self.tables[name].path
            before = _files(path)
            try:
                return __orig(self, name, df)
            finally:
                after = _files(path)
                op.write_bytes += sum(s for p, s in after.items() if p not in before)

        tracer.replace(Catalog, attr, write)


class TracedLock:
    """Stands in for the server's engine lock: measures the wait, and makes
    each lock hold one traced operation."""

    def __init__(self, inner, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self._tls = threading.local()

    def __enter__(self):
        t0 = now()
        self.inner.acquire()
        wait = (now() - t0) * 1000
        op = self.tracer.begin("request")
        if op is not None:
            op.lock_wait_ms = wait
        self._tls.op = op
        return self

    def __exit__(self, *exc):
        try:
            self.tracer.end(self._tls.op)
        finally:
            self.inner.release()
        return False


def event_log_jobs(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task time, scheduler delay,
    shuffle bytes written and job wall time, from a Spark event log."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or path.endswith(".inprogress"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not g:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev.get("Submission Time", 0)
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["job_wall_ms"] += (
                            ev.get("Completion Time", 0) - job_start[jid]
                        )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group and "Submission Time" in ev["Stage Info"]:
                        groups[stage_group[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    overhead = (
                        run
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                    )
                    span = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    gr = groups[g]
                    gr["tasks"] += 1
                    gr["task_ms"] += run
                    gr["scheduler_delay_ms"] += max(0, span - overhead)
                    sw = m.get("Shuffle Write Metrics") or {}
                    gr["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return groups
