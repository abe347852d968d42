"""Tracing for the benchmark's traced run: spans, Spark counters, stream progress.

Nothing here is imported by an untraced run, so end-to-end numbers never pay
for it.

- ``Tracer`` records spans (name, start, end, parent, trace id = op id) in
  memory, on the wall clock (``time.time()``), so they compare with the
  submission and completion times Spark records for its jobs. ``wrap`` swaps a module attribute for a timing wrapper, which only
  sees callers that reach the function through its module
  (``marts.write_mart(...)``), the way the package calls these layers.
- ``SparkCounters`` reads Spark's own status stores after each call: the
  jobs, stages and SQL executions whose ids are newer than the previous
  call's.
  Selecting by id rather than by job group also catches the micro-batch jobs
  a streaming query runs under its own group.
- ``stream_listener`` builds a ``StreamingQueryListener`` that tags each
  progress event with the op that was running when it arrived.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from stats import union_length

#: Status-store history big enough that no op's jobs, stages or executions
#: are evicted before they are read (iteratives run hundreds of stages).
TRACE_CONF = {
    "spark.ui.retainedJobs": "20000",
    "spark.ui.retainedStages": "20000",
    "spark.sql.ui.retainedExecutions": "5000",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.trace: str | None = None
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "trace": self.trace, "name": name, "start": time.time(), "end": None}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def spans_of(self, trace: str) -> list[dict]:
        return [s for s in self.spans if s["trace"] == trace]


def install_wrappers(tracer: Tracer) -> None:
    """Time every layer boundary the workloads cross, at the module the
    package's own callers go through."""
    from weather_api_automate_etl_spark.operators import marts, quality
    from weather_api_automate_etl_spark.plans import incremental
    from weather_api_automate_etl_spark.sources import json_ingest, ledger, rest

    tracer.wrap(marts, "write_mart", "operators.marts.write_mart")
    tracer.wrap(quality, "expect_empty", "operators.quality.expect_empty")
    tracer.wrap(json_ingest, "append_raw", "sources.json_ingest.append_raw")
    tracer.wrap(rest, "fetch_locations", "sources.rest.fetch_locations")
    tracer.wrap(incremental, "refresh_incremental", "plans.incremental.refresh_incremental")
    for attr in dir(ledger):
        if attr.startswith("ledger_") and callable(getattr(ledger, attr)):
            tracer.wrap(ledger, attr, f"sources.ledger.{attr}")
    # every manifest commit goes through this one function
    tracer.wrap(ledger, "_commit", "sources.ledger.commit")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class SparkCounters:
    """Per-call counters read from Spark's status stores right after the call."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._last_job = self._last_exec = -1
        self.read()  # discard warm-up work

    def _new_jobs(self) -> list:
        # jobsList is newest first: stop at the previous op's watermark
        jobs, out = self._store.jobsList(None), []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            out.append(job)
        if out:
            self._last_job = out[0].jobId()
        return out

    def _files_written(self) -> int:
        # executionsList is oldest first: walk back to the watermark
        execs, files = self._sql.executionsList(), 0
        n = execs.size()
        for i in range(n - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._last_exec:
                break
            ids = [m.accumulatorId() for m in _seq(ex.metrics())
                   if m.name() == "number of written files"]
            if ids:
                values = self._sql.executionMetrics(eid)
                files += sum(int(values.apply(a).replace(",", ""))
                             for a in ids if values.contains(a))
        if n:
            self._last_exec = max(self._last_exec, execs.apply(n - 1).executionId())
        return files

    def read(self) -> dict:
        """The op's counters. ``job_intervals`` are its jobs' (submission,
        completion) times in wall-clock seconds, as ``time.time()`` gives."""
        # the status stores are fed by the listener bus: let it catch up
        # with the op's last job and task events before reading them
        self._bus.waitUntilEmpty(10_000)
        jobs = self._new_jobs()
        intervals, stage_ids = [], set()
        for job in jobs:
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end))
            stage_ids.update(_seq(job.stageIds()))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "output_bytes": 0, "output_rows": 0, "task_skew": 1.0}
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["output_bytes"] += st.outputBytes()
            out["output_rows"] += st.outputRecords()
            if st.numTasks() > 1:
                summary = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, top = run.apply(0), run.apply(1)
                    if med > 0:
                        out["task_skew"] = max(out["task_skew"], top / med)
        out["job_intervals"] = intervals
        out["exec_s"] = union_length(intervals)
        out["files_written"] = self._files_written()
        return out


def stream_listener(tracer: Tracer, events: list[dict]):
    """A listener appending one record per micro-batch progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            events.append({
                "op": tracer.trace, "batch": p.batchId, "input_rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0), "wal_commit_ms": d.get("walCommit", 0),
                "add_batch_ms": d.get("addBatch", 0),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()
