"""One benchmark process: set up Spark, run one workload, check its outputs.

``run.py`` starts this script in a fresh process (so a fresh JVM) with the
run's private cwd, ``TMPDIR`` and ``SPARK_LOCAL_DIRS``, and reads the JSON
it writes:

    worker.py <config.json>

The config's ``t0`` is the parent's ``time.monotonic()`` just before it
started this process (CLOCK_MONOTONIC is system-wide), so setup_s covers
interpreter start, imports, ``_load_extensions()``, ``get_spark`` and a
warm-up action.

An op is one tick (``pipeline_daily``) or one pass over a registry
workload's queries (``registry_mix``): the cold pass in a fixed order,
the others in the order the seed gives. Its calls (the tick, or each
query) are timed, traced and counted one by one, and an op's time is the
sum of its calls' times.
Op 0 is the cold op. The warm ops follow it, after any settling ops.
Before every op, before every call of the cold op and after the last op,
the host-speed probe (``hostspeed.py``) takes its samples, outside every
timed interval.

Only calls into the package's public functions are timed. Output checks
run after the timed window and never inside a call's interval.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import os
import random
import sys
import time
import traceback
from contextlib import nullcontext

import gen
import hostspeed
import stats

#: Registry queries of ``registry_mix``. Two read: MinHash-LSH pair search
#: (half its time inside its Spark jobs, the most shuffle data) and MMR
#: re-ranking (an iterative that spends two thirds of its time on the
#: driver between small jobs). One writes through the snapshot ledger: a
#: streaming MERGE (WAL, offsets, checkpoints, one manifest commit per
#: micro-batch). pipeline_daily is the control that runs none of them.
#: Three queries, because a run must fit a JVM set-up, a cold pass (4-7 s
#: per query), the oracle checks, two settling passes and a warm window of
#: at least three passes in about a minute on a busy host.
#: A pass, not a query, is the op: the median over a mix of queries would
#: fall between the queries' times and swing with whichever ran more.
REGISTRY_QUERIES = {
    "registry_mix": ["q_minhash_pairs", "q_mmr_rerank", "q_streaming_ledger_sink"],
}

#: Fewest warm passes over the registry queries a run makes: the streaming
#: MERGE's call now and then takes ~1 s longer, and the median of three
#: passes is not moved by one such call.
MIN_WARM_PASSES = 3
#: Passes run after the cold pass and before the warm window, not timed: a
#: registry query's calls keep getting faster for a few passes as the JVM
#: compiles its code paths, and timing from the first ones left the run's
#: median depending on where in that slope the window fell.
SETTLE_PASSES = 2
#: Fewest warm ticks a pipeline_daily run makes, whatever ``--seconds`` says.
MIN_WARM_TICKS = 4
#: Ticks run after the cold one and before the warm window, not timed: the
#: second tick in a JVM still runs ~15% slower than the ones after it.
SETTLE_TICKS = 1


def setup(t0: float, extra_conf: dict[str, str] | None = None):
    from weather_api_automate_etl_spark.queries import _load_extensions
    from weather_api_automate_etl_spark.session import get_spark

    _load_extensions()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.monotonic() - t0


def peak_rss_mb(pid: int) -> float:
    """The JVM's peak resident set (VmHWM), read from /proc at the end of
    the warm window, from outside the JVM."""
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024.0


class Run:
    """The closed loop: one client, calls back to back, op 0 cold."""

    def __init__(self, spark, cfg: dict, tracer=None, counters=None, probe=None) -> None:
        self.spark, self.cfg, self.tracer, self.counters = spark, cfg, tracer, counters
        self.probe = probe
        self.calls: list[dict] = []
        self.probe_intervals: list[tuple[float, float]] = []
        self.probe_ops: list[list[float]] = []
        self.first_warm_op = 1

    def call(self, op: int, name: str, fn) -> dict:
        # between two ops, and between the calls of the long cold op, whose
        # samples would otherwise be missing from the run's median
        if not self.calls or self.calls[-1]["op"] != op or op == 0:
            self.measure_host()
        rec = {"id": f"c{len(self.calls)}", "op": op, "name": name,
               "warm": op >= self.first_warm_op, "ok": True,
               "probe": len(self.probe_ops) - 1}  # the probe taken just before
        self.spark.sparkContext.setJobGroup(rec["id"], name)
        if self.tracer:
            self.tracer.trace = f"op{op}"
        span = self.tracer.span(f"call.{name}") if self.tracer else nullcontext()
        start = time.perf_counter()
        try:
            with span as s:
                rec["span"] = s and s["id"]
                rec["detail"] = fn()
        except Exception:  # noqa: BLE001 — a failed call is counted, the loop goes on
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=5)
            print(rec["error"], file=sys.stderr)
        rec["start"], rec["end"] = start, time.perf_counter()
        if self.counters:
            rec["spark"] = self.counters.read()
        self.calls.append(rec)
        return rec

    def measure_host(self) -> None:
        """Host-speed probe samples, taken between two calls."""
        if self.probe:
            start = time.perf_counter()
            self.probe_ops.append(self.probe.measure())
            self.probe_intervals.append((start, time.perf_counter()))

    def warm_ops(self) -> list[list[dict]]:
        """The warm ops, each the list of its calls, in order."""
        ops: dict[int, list[dict]] = {}
        for c in self.calls:
            if c["warm"]:
                ops.setdefault(c["op"], []).append(c)
        return list(ops.values())


# --- pipeline_daily ----------------------------------------------------------

def day_fetcher(payloads: dict[str, str], log_path: str | None):
    """The injected source: serves one day's generated payloads. Traced runs
    log each call's duration; it runs in Spark's Python workers, so the log
    is a file, not memory."""

    def fetch(city: str) -> str:
        start = time.perf_counter()
        body = payloads[city]
        if log_path:
            with open(log_path, "a") as f:
                f.write(f"{time.perf_counter() - start:.9f}\t{int('error' in body[:12])}\n")
        return body

    return fetch


def pipeline_daily(run: Run) -> dict:
    from weather_api_automate_etl_spark.plans.incremental import refresh_incremental
    from weather_api_automate_etl_spark.plans.pipeline import WeatherPipeline
    from weather_api_automate_etl_spark.plans.scheduler import DailyScheduler

    cfg, spark = run.cfg, run.spark
    with open(cfg["payloads"]) as f:
        payloads = json.load(f)
    city_list = [tuple(c) for c in payloads["cities"]]
    days = payloads["days"]
    work = os.getcwd()
    raw, marts = f"{work}/raw", f"{work}/marts"
    pipeline = WeatherPipeline(spark, raw, marts, cities=[c for c, _ in city_list],
                               pin_extracted_at=True)
    stage_results: dict[int, list] = {}
    job_spans: dict[int, float] = {}

    def job(day_start: dt.datetime):
        i = (day_start - gen.FIRST_DAY).days
        log = f"{work}/fetch-{i}.log" if run.tracer else None
        pipeline.fetcher = day_fetcher(days[i], log)
        start = time.perf_counter()
        stage_results[i] = pipeline.run(day_start)
        job_spans[i] = time.perf_counter() - start

    scheduler = DailyScheduler(f"{work}/scheduler_state.json", job)

    def tick(i: int):
        ran = scheduler.tick(gen.FIRST_DAY + dt.timedelta(days=i + 1))
        if ran != gen.FIRST_DAY + dt.timedelta(days=i):
            raise RuntimeError(f"tick {i} ran interval {ran}")
        return i

    run.first_warm_op = 1 + SETTLE_TICKS
    run.call(0, "tick", lambda: tick(0))
    for i in range(1, run.first_warm_op):
        run.call(i, "tick", lambda i=i: tick(i))
    i = run.first_warm_op
    deadline = time.perf_counter() + cfg["seconds"]
    while i < len(days) and (i < run.first_warm_op + MIN_WARM_TICKS
                             or time.perf_counter() < deadline):
        run.call(i, "tick", lambda i=i: tick(i))
        i += 1
    n_days = i
    run.measure_host()
    rss = peak_rss_mb(cfg["jvm_pid"])
    if run.tracer:
        run.tracer.trace = None  # the refresh's spans belong to no tick

    last_day = gen.FIRST_DAY + dt.timedelta(days=n_days - 1)
    t = time.perf_counter()
    refreshed = refresh_incremental(spark, raw, marts, last_day.date())
    refresh_s = time.perf_counter() - t

    bad_days, bad_refresh, notes = check_pipeline(raw, marts, days[:n_days], refreshed)
    ticks = run.calls
    failed = sum(not c["ok"] for c in ticks)
    mismatched = sum(1 for c in ticks if c["ok"] and c["detail"] in bad_days) + bad_refresh
    layer = {}
    if run.tracer:
        layer = pipeline_layers(run, stage_results, job_spans, work, refresh_s)
    return {"attempted": len(ticks) + 1, "failed": failed, "mismatched": mismatched,
            "checks": notes, "layer": layer, "peak_rss_mb": rss}


def _read_parquet_dir(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()


def check_pipeline(raw, marts, days, refreshed):
    """Expected rows, computed in Python from the generated payloads: every
    day's raw rows are exactly its non-error payloads (error envelopes are
    routed away), its fact rows carry the right temperature_category, the
    dimension has one row per city with its observation count, and the
    incremental refresh reports the rows it rewrote."""
    notes = []
    raw_rows = _read_parquet_dir(raw)
    dim = _read_parquet_dir(f"{marts}/dim_locations")
    fct = _read_parquet_dir(f"{marts}/fct_weather_observations")
    city_of = {r["location_key"]: r["city"] for r in dim}
    bad_days = set()
    expected_total: dict[str, int] = {}
    for i, payloads in enumerate(days):
        day = (gen.FIRST_DAY + dt.timedelta(days=i)).date()
        ok_cities = sorted(c for c, body in payloads.items() if '"error"' not in body)
        got_raw = sorted(r["city"].strip().title() for r in raw_rows
                         if str(r["ingest_date"]) == str(day))
        want = gen.expected_observations(payloads)
        got = {city_of.get(r["location_key"]): r["temperature_category"] for r in fct
               if str(r["extraction_date"]) == str(day)}
        if got_raw != ok_cities or got != want or len(got) != sum(
                str(r["extraction_date"]) == str(day) for r in fct):
            bad_days.add(i)
            notes.append(f"day {i}: raw {len(got_raw)}/{len(ok_cities)} rows, "
                         f"fct {len(got)}/{len(want)} rows match={got == want}")
        for city in want:
            expected_total[city] = expected_total.get(city, 0) + 1
    got_dim = {r["city"]: r["total_observations"] for r in dim}
    bad_refresh = 0
    if len(dim) != len(got_dim) or got_dim != expected_total:
        bad_refresh = 1
        notes.append(f"dim: {len(dim)} rows, {len(expected_total)} expected")
    want_last = len(gen.expected_observations(days[-1]))
    if refreshed != {"fct_weather_observations": want_last, "dim_locations": len(expected_total)}:
        bad_refresh = 1
        notes.append(f"refresh_incremental returned {refreshed}")
    return bad_days, bad_refresh, notes


def pipeline_layers(run, stage_results, job_spans, work, refresh_s) -> dict:
    warm = [c for c in run.calls if c["warm"] and c["ok"]]
    by_stage: dict[str, list[float]] = {}
    retries = 0
    for o in warm:
        for r in stage_results[o["detail"]]:
            by_stage.setdefault(r.name, []).append(r.seconds)
    for results in stage_results.values():
        retries += sum(r.attempts - 1 for r in results)
    out = {f"plans.pipeline.{k}_s": stats.median(v) for k, v in by_stage.items()}
    out["plans.pipeline.retries"] = retries
    out["plans.scheduler.tick_overhead_s"] = stats.median(
        [(o["end"] - o["start"]) - job_spans[o["detail"]] for o in warm])
    fetch_s, errors = [], []
    for o in warm:
        with open(f"{work}/fetch-{o['detail']}.log") as f:
            rows = [line.split("\t") for line in f]
        fetch_s.append(sum(float(d) for d, _ in rows))
        errors.append(sum(int(e) for _, e in rows))
    out["sources.rest.fetch_s"] = stats.median(fetch_s)
    out["sources.json_ingest.error_records"] = stats.mean(errors)
    out["plans.incremental.refresh_s"] = refresh_s
    return out


# --- registry_mix ---------------------------------------------------------------

def registry_workload(run: Run) -> dict:
    from weather_api_automate_etl_spark.queries import REGISTRY

    cfg, spark = run.cfg, run.spark
    sf = cfg["tables"]
    queries = REGISTRY_QUERIES[cfg["workload"]]
    order = random.Random(cfg["seed"]).sample(queries, len(queries))

    span = run.tracer.span if run.tracer else (lambda name: nullcontext())

    def one(q: str, outputs: dict | None = None) -> None:
        with span("queries.build"):
            df = REGISTRY[q].fn(spark, sf)
        with span("spark.noop_write"):
            df.write.format("noop").mode("overwrite").save()
        if outputs is not None:
            outputs[q] = df

    # The cold pass runs the queries in one fixed order: the first query in
    # a fresh JVM pays most of its warm-up, and that share differs by query
    # (3-7 s), so a seeded order moved cold_pass_s by up to 20%. Its outputs
    # are checked against the oracle once the pass is over, so no check
    # falls inside a timed op.
    outputs: dict = {}
    run.first_warm_op = 1 + SETTLE_PASSES
    for q in queries:
        run.call(0, q, lambda q=q: one(q, outputs))
    bad, notes = check_registry(sf, outputs)
    outputs.clear()  # release checkpointed results before the warm window
    if run.counters:
        run.counters.read()  # the check's own jobs belong to no op
    for op in range(1, run.first_warm_op):
        for q in order:
            run.call(op, q, lambda q=q: one(q))
    op = run.first_warm_op
    deadline = time.perf_counter() + cfg["seconds"]
    while op < run.first_warm_op + MIN_WARM_PASSES or time.perf_counter() < deadline:
        for q in order:
            run.call(op, q, lambda q=q: one(q))
        op += 1
    run.measure_host()
    rss = peak_rss_mb(cfg["jvm_pid"])

    failed = sum(not c["ok"] for c in run.calls)
    mismatched = sum(1 for c in run.calls if c["ok"] and c["name"] in bad)
    res = {"attempted": len(run.calls), "failed": failed, "mismatched": mismatched,
           "checks": notes, "layer": {}, "peak_rss_mb": rss}
    if run.tracer:
        build = {c["id"]: build_self_time(run.tracer, c) for c in run.calls if c["ok"]}
        res["layer"]["queries.build_s"] = stats.median(
            [sum(build[c["id"]] for c in calls) for calls in ok_ops(run)])
        res["per_query"] = per_query([c for calls in ok_ops(run) for c in calls], build)
    return res


def _oracle_compare():
    """``frame_rows`` (built on ``canon``) from the repo's oracle gate,
    imported by path so the comparison is the gate's own."""
    path = os.path.join(os.environ["PERFBENCH_ROOT"], "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_rows


def check_registry(sf: str, outputs: dict) -> tuple[set[str], list[str]]:
    """Each query's output (the DataFrame of its cold op; an op that raised
    has none and is already counted as failed) against its DuckDB oracle."""
    import duckdb

    from weather_api_automate_etl_spark.queries import REGISTRY
    from weather_api_automate_etl_spark.schemas import TESTDATA_TABLES

    frame_rows = _oracle_compare()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad, notes = set(), []
    for q, sdf in outputs.items():
        try:
            s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
            res = con.execute(REGISTRY[q].oracle)
            d_cols, d_rows = [d[0] for d in res.description], res.fetchall()
            same = (sorted(s_cols) == sorted(d_cols)
                    and frame_rows(s_cols, s_rows) == frame_rows(d_cols, d_rows))
        except Exception:  # noqa: BLE001 — a check that cannot run is a failed check
            traceback.print_exc()
            same, s_rows = False, []
        if not same:
            bad.add(q)
        notes.append(f"{q}: {len(s_rows)} rows {'match' if same else 'MISMATCH'}")
    con.close()
    return bad, notes


def build_self_time(tracer, call: dict) -> float:
    """Driver time of a registry call: its ``queries.build`` span minus its
    child spans and minus the Spark jobs that ran inside it. Queries run
    jobs of their own inside the call (``head()``, eager
    ``localCheckpoint``, stream drains, ledger writes), and jobs are not
    spans, so the job intervals are subtracted as well."""
    spans = tracer.spans
    build = next(s for s in spans if s["name"] == "queries.build" and s["parent"] == call["span"])
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == build["id"]]
    return stats.self_time((build["start"], build["end"]), kids + call["spark"]["job_intervals"])


def per_query(calls: list[dict], build: dict[str, float]) -> dict[str, dict]:
    """Each query's own layer figures over its warm calls: medians of
    times, means of counts. They show which mechanism bounds each query."""
    out = {}
    for q in sorted({c["name"] for c in calls}):
        mine = [c for c in calls if c["name"] == q]
        sp = [c["spark"] for c in mine]
        out[q] = {
            "n": len(mine),
            "call_s": stats.median([c["end"] - c["start"] for c in mine]),
            "build_s": stats.median([build[c["id"]] for c in mine]),
            # the call's time outside every Spark job: driver work of all layers
            "driver_s": stats.median([c["end"] - c["start"] - s["exec_s"] for c, s in zip(mine, sp)]),
            "exec_s": stats.median([s["exec_s"] for s in sp]),
            "executor_run_s": stats.median([s["executor_run_s"] for s in sp]),
            **{k: stats.mean([s[k] for s in sp])
               for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                         "shuffle_write_bytes", "files_written")},
        }
    return out


# --- shared traced layers ------------------------------------------------------

def ok_ops(run: Run) -> list[list[dict]]:
    """The warm ops all of whose calls succeeded."""
    return [calls for calls in run.warm_ops() if all(c["ok"] for c in calls)]


def traced_layers(run: Run, events: list[dict]) -> dict:
    """Spark counters, span totals and stream progress per warm op: sums
    over the op's calls, then the median (times) or mean (counts) over ops."""
    ops = ok_ops(run)
    per_op = [{k: sum(c["spark"][k] for c in calls) for k in (
        "jobs", "stages", "tasks", "exec_s", "executor_run_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "files_written", "output_bytes", "output_rows")}
        for calls in ops]
    out = {f"spark.{k}": stats.mean([p[k] for p in per_op]) for k in (
        "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    out["spark.exec_s"] = stats.median([p["exec_s"] for p in per_op])
    out["spark.executor_run_s"] = stats.median([p["executor_run_s"] for p in per_op])
    out["spark.task_skew"] = stats.median([c["spark"]["task_skew"] for calls in ops for c in calls])
    out["storage.files_written"] = stats.mean([p["files_written"] for p in per_op])
    rows = sum(p["output_rows"] for p in per_op)
    out["storage.bytes_per_row"] = sum(p["output_bytes"] for p in per_op) / rows if rows else 0.0

    spans = [run.tracer.spans_of(f"op{calls[0]['op']}") for calls in ops]
    commits = [s for op_spans in spans for s in op_spans if s["name"] == "sources.ledger.commit"]
    out["sources.ledger.commits"] = len(commits) / len(ops) if ops else 0.0
    out["sources.ledger.commit_s"] = stats.median([s["end"] - s["start"] for s in commits])
    for name, key in (("operators.marts.write_mart_s", "operators.marts.write_mart"),
                      ("operators.quality.check_s", "operators.quality.expect_empty"),
                      ("sources.json_ingest.append_raw_s", "sources.json_ingest.append_raw")):
        out[name] = stats.median([sum(s["end"] - s["start"] for s in op_spans if s["name"] == key)
                                  for op_spans in spans])
    out["operators.quality.checks"] = stats.mean(
        [sum(s["name"] == "operators.quality.expect_empty" for s in op_spans) for op_spans in spans])
    warm_ids = {f"op{calls[0]['op']}" for calls in ops}
    batches = [e for e in events if e["op"] in warm_ids]
    out["streaming.batches"] = len(batches) / len(ops) if ops else 0.0
    for k in ("trigger_ms", "wal_commit_ms", "add_batch_ms"):
        out[f"streaming.{k}"] = stats.median([e[k] for e in batches])
    out["streaming.input_rows"] = stats.mean([e["input_rows"] for e in batches])
    return out


WORKLOADS = {"pipeline_daily": pipeline_daily, "registry_mix": registry_workload}


def main_run(cfg: dict) -> None:
    tracer = counters = None
    events: list[dict] = []
    extra = None
    if cfg["trace"]:
        import tracing

        tracer = tracing.Tracer()
        extra = tracing.TRACE_CONF
    spark, setup_s = setup(cfg["t0"], extra)
    cfg["jvm_pid"] = spark.sparkContext._gateway.proc.pid
    if tracer:
        tracing.install_wrappers(tracer)
        counters = tracing.SparkCounters(spark)
        spark.streams.addListener(tracing.stream_listener(tracer, events))
    probe = hostspeed.Probe(spark.sparkContext._jvm)
    run = Run(spark, cfg, tracer, counters, probe)
    res = WORKLOADS[cfg["workload"]](run)

    warm = [c for c in run.calls if c["warm"]]
    k = hostspeed.factors(run.probe_ops)

    def at_ref(c: dict) -> float:
        return (c["end"] - c["start"]) * k[c["probe"]]

    res.update(
        setup_s=setup_s,
        jvm_pid=cfg["jvm_pid"],
        probe_s=probe.samples,
        probe_ops=run.probe_ops,
        cold_pass_s=sum(c["end"] - c["start"] for c in run.calls if c["op"] == 0),
        warm_op_s=[sum(c["end"] - c["start"] for c in calls) for calls in run.warm_ops()],
        # at reference host speed: each call scaled by the probes next to it
        warm_op_ref_s=[sum(at_ref(c) for c in calls) for calls in run.warm_ops()],
        # the warm window's wall time, less the probes taken inside it
        warm_wall_s=stats.self_time((warm[0]["start"], warm[-1]["end"]), run.probe_intervals),
        call_log=[[c["op"], c["name"], round(c["end"] - c["start"], 4)] for c in run.calls],
    )
    if tracer:
        res["layer"].update(traced_layers(run, events))
        res["layer"]["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        with open(cfg["trace_out"], "w") as f:
            json.dump({"workload": cfg["workload"], "seed": cfg["seed"],
                       "per_query": res.get("per_query", {}),
                       "calls": [{k: v for k, v in c.items() if k != "detail"} for c in run.calls],
                       "spans": tracer.spans, "streaming": events}, f)
    with open(cfg["out"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        main_run(json.load(f))
    # Leave without stopping Spark: run.py stops the JVM and its Python
    # workers as soon as this process has ended, and waits for them.
    sys.stdout.flush()
    os._exit(0)
