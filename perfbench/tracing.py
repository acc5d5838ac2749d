"""Tracing for the ``--trace 1`` run.

Spans are recorded around every call the benchmark makes into a layer
(``get_spark``, ``DrillSession()``, ``DrillSession.sql``, each ops
function, the action) and, through wrappers installed at runtime, around
``sqlfront.rewrite``, ``readers.files.read_auto``,
``functions.register_all`` and PySpark's ``DataFrameWriter.save``. A span
records its name, start, end, parent and operation id; spans stay in
memory until the run ends.

Per operation the tracer also collects Spark job, stage and task
statistics through per-phase job groups (``statusTracker`` and the
status store, both available with the UI disabled), the Catalyst phase
times from ``QueryPlanningTracker``, py4j calls made while an ops
function builds its plan, Python worker CPU and, for pair operators,
the executed plan's SQL metrics.
"""

from __future__ import annotations

import contextlib
import os
import time

from py4j.protocol import Py4JJavaError

from proctree import python_worker_cpu_s


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = "setup"
        self.sc = None
        self._groups: list[str] = []
        self.written: list = []  # DataFrames saved during the current op
        self.py4j_calls = 0
        self._count_py4j = False

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Seconds of self time per span name over the given operations:
        each span's duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] in ops and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child[i]
        return out

    def span_total(self, op: str, name: str, self_only: bool = False) -> float:
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["op"] == op and s["name"] == name and s["end"] is not None:
                total += s["end"] - s["start"]
                if self_only:
                    total -= sum(c["end"] - c["start"] for c in self.spans
                                 if c["parent"] == i and c["end"] is not None)
        return total

    # ------------------------------------------------------- job groups

    @contextlib.contextmanager
    def group(self, phase: str):
        """Jobs started inside this block land in job group ``op:phase``."""
        if self.sc is None:
            yield
            return
        name = f"{self.op_id}:{phase}"
        self._groups.append(name)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._groups.pop()
            prev = self._groups[-1] if self._groups else f"{self.op_id}:other"
            self.sc.setJobGroup(prev, prev)

    def stage_stats(self, op: str) -> dict:
        """Jobs, stages and task metrics of every job group of ``op``."""
        sc = self.sc
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out = {"jobs": 0, "sql_jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
               "input_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
               "gc_ms": 0}
        for phase in ("sql", "build", "write", "run", "other"):
            jobs = tracker.getJobIdsForGroup(f"{op}:{phase}")
            out["jobs"] += len(jobs)
            if phase == "sql":
                out["sql_jobs"] += len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # skipped stage: planned, never ran
                    if st.numCompleteTasks() == 0:
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["run_ms"] += st.executorRunTime()
                    out["cpu_ns"] += st.executorCpuTime()
                    out["input_b"] += st.inputBytes()
                    out["shuffle_read_b"] += st.shuffleReadBytes()
                    out["shuffle_write_b"] += st.shuffleWriteBytes()
                    out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["gc_ms"] += st.jvmGcTime()
        return out

    # ------------------------------------------------------------- py4j

    def install_py4j_counter(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *a, _orig=orig, **kw):
                if self._count_py4j:
                    self.py4j_calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = counted

    @contextlib.contextmanager
    def counting_py4j(self):
        self._count_py4j = True
        try:
            yield
        finally:
            self._count_py4j = False

    # --------------------------------------------------------- wrappers

    def install_wrappers(self) -> None:
        """Wrap layer entry points in spans at runtime; the program's
        source is not touched."""
        from pyspark.sql import readwriter

        from drill_spark import functions, sqlfront
        from drill_spark.readers import files

        def wrap(mod, attr, span_name):
            orig = getattr(mod, attr)

            def wrapped(*a, **kw):
                with self.span(span_name):
                    return orig(*a, **kw)

            setattr(mod, attr, wrapped)

        wrap(sqlfront, "rewrite", "sqlfront.rewrite")
        wrap(files, "read_auto", "readers.read_auto")
        wrap(functions, "register_all", "functions.register_all")

        orig_save = readwriter.DataFrameWriter.save

        def save(writer, *a, **kw):
            self.written.append(writer._df)
            with self.span("writer.save"), self.group("write"):
                return orig_save(writer, *a, **kw)

        readwriter.DataFrameWriter.save = save

    # ---------------------------------------------------------- catalyst

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Analysis/optimization/planning ms from the QueryPlanningTracker."""
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        phases = df._jdf.queryExecution().tracker().phases()
        for name in out:
            opt = phases.get(name)
            if opt.isDefined():
                out[name] = float(opt.get().durationMs())
        return out

    @staticmethod
    def pair_counts(df) -> tuple[int, int]:
        """(emitted, candidates) of a verify-after-candidates pair plan:
        the top-most join applies the score threshold, and the nearest
        join below it produced the candidate pairs it scored. Both are
        the joins' ``numOutputRows`` SQL metrics."""

        def children(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                return [node.executedPlan()]
            if cls.endswith("QueryStageExec"):
                return [node.plan()]
            kids = node.children()
            return [kids.apply(i) for i in range(kids.size())]

        def first_join(level):  # breadth-first: the shallowest join
            while level:
                for node in level:
                    if "Join" in node.getClass().getSimpleName():
                        return node
                level = [c for n in level for c in children(n)]
            return None

        def rows(node) -> int:
            m = node.metrics().get("numOutputRows")
            return int(m.get().value()) if m.isDefined() else 0

        top = first_join([df._jdf.queryExecution().executedPlan()])
        below = first_join(children(top)) if top is not None else None
        return (rows(top), rows(below)) if below is not None else (0, 0)

    @staticmethod
    def python_cpu() -> float:
        return python_worker_cpu_s(os.getpid())
