"""Traced runs: spans around the program's public calls, plus the Spark jobs,
stages and SQL executions that ran inside each span.

Spans are kept in memory. The program's source is not edited: ``Tracer.wrap``
replaces a method on its class for the life of the benchmark process. Job and
stage metrics come from Spark's status store (``AppStatusStore`` and the SQL
status store, over py4j) once the run has ended, and are attributed to a span
by time window: a job belongs to the span in which it was submitted.
"""

from __future__ import annotations

import functools
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, t0: float, t1: float, **attrs) -> dict:
        span = {"name": name, "t0": t0, "t1": t1, **attrs}
        self.spans.append(span)
        return span

    def wrap(self, cls, method: str, name: str, on_result=None) -> None:
        """Record a span around every call of cls.method. ``on_result(span,
        result)`` may add attributes once the call has returned."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.time()
            out = orig(*args, **kwargs)
            span = tracer.add(name, t0, time.time())
            if on_result is not None:
                on_result(span, out)
            return out

        setattr(cls, method, traced)

    def wrap_futures(self, cls, method: str, name: str) -> None:
        """Span from the call until the last returned future is done
        (``SnapshotStore.stage_async``)."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.time()
            futs = orig(*args, **kwargs)
            span = tracer.add(name, t0, time.time(), pending=len(futs))

            def done(_f):
                span["t1"] = max(span["t1"], time.time())

            for f in futs:
                f.add_done_callback(done)
            return futs

        setattr(cls, method, traced)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkRecord:
    """Jobs, stages and SQL executions from the status store, read once."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        self.jobs = []
        for j in conv.asJava(store.jobsList(None)):
            self.jobs.append(
                {
                    "id": j.jobId(),
                    "name": j.name(),
                    "t0": _opt_ms(j.submissionTime()),
                    "t1": _opt_ms(j.completionTime()),
                    "stages": list(conv.asJava(j.stageIds())),
                }
            )
        self.stages: dict[int, dict] = {}
        stage_list = store.stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )
        for s in conv.asJava(stage_list):
            acc = self.stages.setdefault(
                s.stageId(),
                {"cpu_s": 0.0, "run_s": 0.0, "tasks": 0, "shuffle_read": 0,
                 "shuffle_write": 0, "spill": 0},
            )
            acc["cpu_s"] += s.executorCpuTime() / 1e9
            acc["run_s"] += s.executorRunTime() / 1e3
            acc["tasks"] += s.numCompleteTasks()
            acc["shuffle_read"] += s.shuffleReadBytes()
            acc["shuffle_write"] += s.shuffleWriteBytes()
            acc["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        sql = spark._jsparkSession.sharedState().statusStore()
        self.sql_starts = [
            e.submissionTime() / 1000.0 for e in conv.asJava(sql.executionsList())
        ]

    def jobs_in(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs if j["t0"] is not None and t0 <= j["t0"] <= t1]

    def sql_in(self, t0: float, t1: float) -> int:
        return sum(1 for t in self.sql_starts if t0 <= t <= t1)

    def task_metrics(self, jobs: list[dict]) -> dict:
        out = {"cpu_s": 0.0, "run_s": 0.0, "tasks": 0, "shuffle_read": 0,
               "shuffle_write": 0, "spill": 0}
        for sid in {s for j in jobs for s in j["stages"]}:
            for k, v in self.stages.get(sid, {}).items():
                out[k] += v
        return out

    def idle_s(self, t0: float, t1: float) -> float:
        """Time in [t0, t1] when no Spark job was running."""
        busy = sorted(
            (max(t0, j["t0"]), min(t1, j["t1"] or t1))
            for j in self.jobs
            if j["t0"] is not None and j["t0"] < t1 and (j["t1"] or t1) > t0
        )
        covered, end = 0.0, t0
        for a, b in busy:
            if b <= end:
                continue
            covered += b - max(a, end)
            end = b
        return (t1 - t0) - covered
