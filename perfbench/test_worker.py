"""Self-tests for the worker's per-op layer math: python3 -m pytest perfbench -q"""

import pytest

import tracing
import worker


class _Spans:
    def __init__(self, spans):
        self.spans = spans


def _span(sid, name, start, end, parent=None, trace="op0"):
    return {"id": sid, "parent": parent, "trace": trace, "name": name,
            "start": start, "end": end}


def test_build_self_time_subtracts_child_spans_and_spark_jobs():
    tracer = _Spans([
        _span(1, "call.q_a", 90.0, 112.0),
        _span(2, "queries.build", 100.0, 110.0, parent=1),
        _span(3, "sources.ledger.commit", 101.0, 102.0, parent=2),
        _span(4, "spark.noop_write", 110.0, 112.0, parent=1),  # a sibling
        _span(5, "call.q_b", 0.0, 60.0),  # another call of the same op
        _span(6, "queries.build", 0.0, 50.0, parent=5),
    ])
    # one job overlaps the child span, one runs past the build span's end
    call = {"span": 1, "spark": {"job_intervals": [(101.5, 104.0), (109.0, 111.0)]}}
    # covered inside [100, 110]: [101, 104] and [109, 110]
    assert worker.build_self_time(tracer, call) == pytest.approx(6.0)


def test_per_query_groups_warm_calls_by_query():
    def call(i, name, secs, jobs):
        return {"id": f"c{i}", "name": name, "start": 0.0, "end": secs,
                "spark": {"exec_s": secs / 2, "executor_run_s": secs, "jobs": jobs,
                          "stages": jobs, "tasks": 2 * jobs, "shuffle_read_bytes": 0,
                          "shuffle_write_bytes": 0, "files_written": 1}}

    warm = [call(0, "a", 1.0, 4), call(1, "b", 3.0, 10), call(2, "a", 2.0, 6),
            call(3, "a", 9.0, 5)]
    build = {"c0": 0.1, "c1": 2.0, "c2": 0.3, "c3": 0.2}
    out = worker.per_query(warm, build)
    assert set(out) == {"a", "b"}
    assert out["a"]["n"] == 3 and out["a"]["call_s"] == 2.0 and out["a"]["build_s"] == 0.2
    assert out["a"]["jobs"] == 5.0 and out["b"]["tasks"] == 20.0
    # call time outside Spark jobs: 0.5, 1.0 and 4.5 s for query "a"
    assert out["a"]["driver_s"] == 1.0


def test_warm_ops_group_calls_by_op_and_skip_the_cold_op():
    run = worker.Run(None, {})
    run.calls = [{"op": op, "warm": op > 0, "name": q} for op, q in
                 ((0, "a"), (0, "b"), (1, "b"), (1, "a"), (2, "b"), (2, "a"))]
    assert [[c["name"] for c in calls] for calls in run.warm_ops()] == [["b", "a"], ["b", "a"]]


def test_tracer_records_nesting_and_trace_id():
    tracer = tracing.Tracer()
    tracer.trace = "op7"
    with tracer.span("outer") as outer:
        with tracer.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {s["trace"] for s in tracer.spans} == {"op7"}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


class _Context:
    def setJobGroup(self, group, description):
        pass


class _Spark:
    sparkContext = _Context()


class _Probe:
    def __init__(self):
        self.measured = 0

    def measure(self):
        self.measured += 1
        return [0.1]


def test_settling_ops_are_not_warm_and_the_probe_runs_between_ops():
    probe = _Probe()
    run = worker.Run(_Spark(), {}, probe=probe)
    run.first_warm_op = 2
    for op, q in ((0, "a"), (0, "b"), (1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")):
        run.call(op, q, lambda: None)
    assert [[c["op"] for c in calls] for calls in run.warm_ops()] == [[2, 2], [3]]
    # before each call of the cold op, then before each later op
    assert probe.measured == 5 and len(run.probe_intervals) == 5
    assert [c["probe"] for c in run.calls] == [0, 1, 2, 2, 3, 3, 4]
    # probe intervals lie between calls, never inside one
    for start, end in run.probe_intervals:
        assert all(end <= c["start"] or start >= c["end"] for c in run.calls)
