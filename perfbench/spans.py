"""Spans and Spark-side counters for the traced benchmark run.

Spans are recorded from outside the engine: around each statement, around
the calls the benchmark makes into the engine (builder or ``Engine`` call,
forced ``executedPlan()``, collect), and around every public function of
``operators.*`` and ``sources.versioned``, which are wrapped before the
query registry imports them. Counters are read from Spark's own read-only
state at the same statement boundaries: the DAG scheduler's job and stage
id counters, the status store's stage and job records, the query
execution's phase tracker, the codegen compile counters, the executed
plan's SQLMetrics and a streaming query listener.

Everything is kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COMMIT_FUNCTION = "_link_manifest"  # one call per committed table version


class Tracer:
    """In-memory span recorder. Spans are plain dicts:
    ``{id, parent, name, layer, start, end, attrs}`` with ``perf_counter``
    times; ``parent`` is the id of the enclosing span or None."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.on = False
        self._owner = threading.get_ident()

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        # Only the benchmark's own thread is traced: streaming micro-batches
        # call operators from Spark's query threads, outside any statement.
        if not self.on or threading.get_ident() != self._owner:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def _wrap_module(tracer: Tracer, mod, layer: str, extra: tuple[str, ...] = ()) -> None:
    for attr, fn in list(vars(mod).items()):
        if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
            continue
        if attr.startswith("_") and attr not in extra:
            continue
        short = mod.__name__.split("ballista_mvp_spark.", 1)[-1]
        setattr(mod, attr, tracer.wrap(fn, f"{short}.{attr}", layer))


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the public functions of every ``operators`` submodule and of
    ``sources.versioned`` (plus its manifest-commit helper). Must run
    before the query registry or the Engine is imported, so that their
    ``from ... import`` bindings pick up the wrapped functions. Functions
    shipped to Python workers still pickle by reference to their module
    and run unwrapped there."""
    import ballista_mvp_spark.operators as ops

    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        _wrap_module(tracer, mod, "operators")
    versioned = importlib.import_module("ballista_mvp_spark.sources.versioned")
    _wrap_module(tracer, versioned, "sources", extra=(COMMIT_FUNCTION,))


def self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Self time per layer for the subtree under ``root_id`` (the root's own
    self time is reported under its layer too). Children of one span never
    overlap: the benchmark is single-threaded and only its thread is
    traced."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out: dict[str, float] = {}
    todo = [spans[root_id]]
    while todo:
        sp = todo.pop()
        kids = children.get(sp["id"], [])
        own = (sp["end"] - sp["start"]) - sum(k["end"] - k["start"] for k in kids)
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + own
        todo.extend(kids)
    return out


class SparkCounters:
    """Reads Spark's own counters around one statement."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = spark._jvm
        self.dag = self.jsc.dagScheduler()
        self.store = self.jsc.statusStore()
        self.bus = self.jsc.listenerBus()
        self.cg_metrics = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.cg = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        # Streaming events of the current traced statement; begin() drops
        # those of everything that ran before it.
        self.started: list[str] = []
        self.progress: list[dict] = []
        started, sink = self.started, self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                started.append(str(event.id))

            def onQueryProgress(self, event):
                p = event.progress
                sink.append({
                    "id": str(p.id),
                    "batch": p.batchId,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def begin(self) -> dict:
        """Mark the start of a traced statement: wait until every event of
        earlier statements (traced or not) has been delivered, drop the
        streaming events collected so far and return the counters."""
        self.bus.waitUntilEmpty()
        self.started.clear()
        self.progress.clear()
        return self.mark()

    def mark(self) -> dict:
        return {
            "job": self.dag.nextJobId(),
            "stage": self.dag.nextStageId(),
            "classes": self.cg_metrics.METRIC_COMPILATION_TIME().getCount(),
            "compile_ns": self.cg.compileTime(),
        }

    def _stages(self, lo: int, hi: int) -> dict[str, float]:
        tot = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "failed_tasks",
             "spill_bytes", "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
             "write_bytes"), 0.0)
        empty = self.jvm.java.util.ArrayList()
        for sid in range(lo, hi):
            try:
                sd = self.store.stageAttempt(sid, 0, False, empty, False, None)._1()
            except Py4JJavaError:  # never submitted: skipped before it was posted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["failed_tasks"] += sd.numFailedTasks()
            tot["task_run_s"] += sd.executorRunTime() / 1e3
            tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["scan_bytes"] += sd.inputBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["write_bytes"] += sd.outputBytes()
        return tot

    def _job_span_s(self, lo: int, hi: int) -> float:
        """Wall time covered by the union of the jobs' run intervals."""
        iv = []
        for jid in range(lo, hi):
            try:
                jd = self.store.job(jid)
            except Py4JJavaError:  # job evicted or never posted
                continue
            s, e = jd.submissionTime(), jd.completionTime()
            if s.isDefined() and e.isDefined():
                iv.append((s.get().getTime(), e.get().getTime()))
        iv.sort()
        total, cur_s, cur_e = 0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total / 1e3

    def statement(self, before: dict, after_build: dict, df) -> dict:
        """Counters for the statement that ran between ``before`` and now.
        ``after_build`` marks the end of the builder / Engine call, so jobs
        launched before the collect are counted as eager."""
        from ballista_mvp_spark.plans.metrics import collect_plan_metrics

        self.bus.waitUntilEmpty()
        now = self.mark()
        out = {f"exec.{k}": v for k, v in self._stages(before["stage"], now["stage"]).items()}
        out["io.write_bytes"] = out.pop("exec.write_bytes")
        out["exec.jobs"] = now["job"] - before["job"]
        out["exec.job_span_s"] = self._job_span_s(before["job"], now["job"])
        out["queries.eager_jobs"] = after_build["job"] - before["job"]
        out["codegen.classes"] = now["classes"] - before["classes"]
        out["codegen.compile_ms"] = (now["compile_ns"] - before["compile_ns"]) / 1e6
        phases = {}
        if df is not None:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                phases[kv._1()] = kv._2().durationMs()
        for ph in ("analysis", "optimization", "planning"):
            out[f"catalyst.{ph}_ms"] = float(phases.get(ph, 0))
        py = {"pythonTotalTime": 0, "pythonBootTime": 0, "pythonDataSent": 0}
        if df is not None:
            for _cls, m in collect_plan_metrics(df).per_node:
                for k in py:
                    py[k] += m.get(k, 0)
        out["python.total_ms"] = float(py["pythonTotalTime"])
        out["python.boot_ms"] = float(py["pythonBootTime"])
        out["python.data_sent_bytes"] = float(py["pythonDataSent"])
        out["cache.persisted_rdds"] = len(self.sc._jsc.getPersistentRDDs())
        out["cache.storage_mib"] = sum(
            i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo()
        ) / 2**20
        batches = list(self.progress)
        state: dict[str, int] = {}
        for b in batches:
            state[b["id"]] = b["state_rows"]
        dur = lambda k: sum(b["duration_ms"].get(k, 0) for b in batches) / 1e3  # noqa: E731
        out["streaming.batches"] = len(batches)
        out["streaming.trigger_s"] = dur("triggerExecution")
        out["streaming.plan_s"] = dur("queryPlanning")
        out["streaming.commit_s"] = dur("walCommit") + dur("commitOffsets")
        out["streaming.state_rows"] = sum(state.values())
        return out
