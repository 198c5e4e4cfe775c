"""In-memory spans and executed-plan statistics for the traced run.

Spans are recorded by the benchmark around its own calls into the
package's public functions; nothing inside the program is instrumented.
Executed plans are read through a JVM ``QueryExecutionListener``, because a
DataFrame write or ``noop`` sink runs its own QueryExecution: the plan of
the frame object the caller holds never executes and its metrics read 0.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, job) kept in memory, written at the
    end.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str, job=None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if job is None and parent is not None:
            job = self.spans[parent]["job"]
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent, "job": job,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """Seconds per span name, minus the time its child spans cover.
        Children of one span never overlap (they run on one thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_time[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       **extra}, f, indent=1)


_PY_EVAL = ("ArrowEvalPythonExec", "BatchEvalPythonExec", "MapInPandasExec",
            "MapInArrowExec", "FlatMapGroupsInPandasExec",
            "FlatMapGroupsInArrowExec", "FlatMapCoGroupsInPandasExec",
            "AggregateInPandasExec", "WindowInPandasExec")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_stats(plan) -> dict:
    """Scan, exchange and Python-eval node counts and shuffle bytes written
    over one executed physical plan (AQE stages and subqueries included).
    A reused exchange is a leaf that moves no bytes and is not counted."""
    st = {"scans": 0, "exchanges": 0, "shuffle_bytes": 0, "python_evals": 0}
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls.endswith("ScanExec"):
            st["scans"] += 1
        elif cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            st["exchanges"] += 1
            m = node.metrics().get("shuffleBytesWritten")
            if m.isDefined():
                st["shuffle_bytes"] += int(m.get().value())
        elif cls in _PY_EVAL:
            st["python_evals"] += 1
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return st


class PlanListener:
    """Collects (action, plan stats, formatted plan) for every query the
    session runs while attached.  Callbacks arrive on the listener bus, so
    attaching and detaching wait for the bus to drain."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.queries = []
        self._on = False
        # Registered once: unregistering a Python proxy does not find it
        # again, so attaching is a flag on this side.
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (JVM interface)
        if self._on:
            plan = qe.executedPlan()
            self.queries.append({"action": func, "ms": duration_ns / 1e6,
                                 **plan_stats(plan), "plan": plan.toString()})

    def onFailure(self, func, qe, exc):  # noqa: N802 (JVM interface)
        if self._on:
            self.queries.append({"action": func, "failed": str(exc)})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def _bus_wait(self):
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60000)

    @contextmanager
    def attached(self):
        self._bus_wait()
        self.queries = []
        self._on = True
        try:
            yield self
        finally:
            self._bus_wait()
            self._on = False

    @staticmethod
    def sum_stats(queries) -> dict:
        keys = ("scans", "exchanges", "shuffle_bytes", "python_evals")
        return {k: sum(q.get(k, 0) for q in queries) for k in keys}
