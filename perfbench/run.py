"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. One invocation is one
run of one workload as a single-client closed loop (calls issued back to back)
on ``local[<cpus>]`` with ``SPARK_GRAFT_CPUS=<cpus>``, ``<cpus>`` being the
cores this process may use. It:

1. makes the run's inputs from ``--seed`` under ``.perfbench/run-<pid>/``;
2. starts the workload worker, a fresh Python process with a fresh JVM, and
   waits until every process it started has ended;
3. prints a summary on stderr and, as the last line of stdout, one JSON
   object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
   the end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``;
4. removes the run directory. A traced run keeps its spans and per-call
   counters in ``.perfbench/trace-<workload>-seed<seed>.json``; an untraced
   run keeps its result in ``.perfbench/last-<workload>.json`` so that a
   later traced run can report the tracing overhead.

Every process gets the run directory as its cwd, ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and ``java.io.tmpdir``, so a run leaves nothing in the
checkout outside ``.perfbench/`` and nothing in ``/tmp``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import hostspeed  # noqa: E402
import stats  # noqa: E402

#: The end-to-end metrics BENCHMARK.json bounds.
END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "ops_per_min": "1/min",
    "cold_pass_s": "s",
}
#: Printed with them, unbounded (perfbench/README.md says why for each).
UNBOUNDED = {"op_s_tail": "s", "error_rate": "ratio", "peak_rss_mb": "MB"}
PER_LAYER = {
    "trace.op_s_p50": "s",
    "queries.build_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_s": "s",
    "spark.executor_run_s": "s",
    "spark.task_skew": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "plans.pipeline.extract_and_load_s": "s",
    "plans.pipeline.build_staging_s": "s",
    "plans.pipeline.test_staging_s": "s",
    "plans.pipeline.build_marts_s": "s",
    "plans.pipeline.test_marts_s": "s",
    "plans.pipeline.retries": "count",
    "plans.scheduler.tick_overhead_s": "s",
    "plans.incremental.refresh_s": "s",
    "sources.rest.fetch_s": "s",
    "sources.json_ingest.append_raw_s": "s",
    "sources.json_ingest.error_records": "count",
    "operators.marts.write_mart_s": "s",
    "operators.quality.checks": "count",
    "operators.quality.check_s": "s",
    "storage.files_written": "count",
    "storage.bytes_per_row": "bytes",
    "sources.ledger.commits": "count",
    "sources.ledger.commit_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.input_rows": "count",
    "jvm.peak_rss_mb": "MB",
}
WORKLOADS = ("pipeline_daily", "registry_mix")
#: Days of payloads generated for pipeline_daily: more than any run ticks.
PIPELINE_DAYS = 40
#: A run ends within this many seconds, whatever its processes do.
RUN_LIMIT_S = 170


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def become_subreaper() -> None:
    """Adopt orphaned descendants (PR_SET_CHILD_SUBREAPER), so the JVM and
    Python workers a worker leaves behind are reaped here, not by init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid == me:
                out.append(int(entry))
    return out


def stop_descendants() -> None:
    """SIGKILL every process this one started, directly or not, and reap
    each; returns once none is left. Orphans (the JVM once its worker has
    exited, PySpark's daemon once its JVM has) are adopted here, because
    this process is a subreaper."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            for child in _children():
                try:
                    os.killpg(child, signal.SIGKILL)  # a worker leads its session
                except ProcessLookupError:
                    pass
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.02)


def child_env(root: str, run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PERFBENCH_ROOT=root,
        SPARK_GRAFT_CPUS=str(cpus()),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        # no /tmp/hsperfdata_<user>; JVM temp files in the run directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def run_child(cfg_path: str, run_dir: str, env: dict[str, str], out: str,
              deadline: float) -> dict:
    """Run worker.py in its own session and return the JSON it wrote.

    Once the worker has written its result and exited, what is left of its
    session is the JVM and Spark's Python workers, with nothing left to do.
    A graceful JVM exit costs 2-3 s of shutdown hooks on every run, so they
    are stopped at once."""
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=os.path.join(run_dir, "work"), env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 0.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_descendants()
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"worker failed with exit code {code}")
    with open(out) as f:
        return json.load(f)


def end_to_end(res: dict, scaled: bool = True) -> dict[str, float]:
    """The end-to-end metrics: at reference host speed (``hostspeed.py``),
    or as measured. The worker gives warm op times both ways; the warm
    window's wall time scales like the sum of its ops, and set-up and cold
    op time by the median of all of the run's probe samples."""
    warm, cold, wall, setup = (res[k] for k in ("warm_op_s", "cold_pass_s",
                                                "warm_wall_s", "setup_s"))
    if scaled:
        wall *= sum(res["warm_op_ref_s"]) / sum(warm)
        k = hostspeed.scale(stats.median(res["probe_s"]))
        warm, cold, setup = res["warm_op_ref_s"], k * cold, k * setup
    tail_s, tail_pct = stats.tail(warm)
    res["tail_pct"], res["n_warm"] = tail_pct, len(warm)
    return {
        "setup_s": setup,
        "op_s_p50": stats.median(warm),
        "op_s_tail": tail_s,
        "ops_per_min": 60.0 * len(warm) / wall,
        "cold_pass_s": cold,
        "error_rate": stats.error_rate(res["attempted"], res["failed"], res["mismatched"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    deadline = time.monotonic() + RUN_LIMIT_S
    root = os.getcwd()
    become_subreaper()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    for need in ("weather_api_automate_etl_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"run.py: {need} not found; run from the repository root", file=sys.stderr)
            return 2

    out_dir = os.path.join(root, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "work", "inputs"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        env = child_env(root, run_dir)
        inputs = os.path.join(run_dir, "inputs")
        cfg = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "out": os.path.join(run_dir, "result.json"),
               "trace_out": os.path.join(out_dir, f"trace-{a.workload}-seed{a.seed}.json")}
        if a.workload == "pipeline_daily":
            city_list = gen.cities(a.seed)
            cfg["payloads"] = os.path.join(inputs, "payloads.json")
            with open(cfg["payloads"], "w") as f:
                json.dump({"cities": city_list,
                           "days": [gen.day_payloads(a.seed, city_list, d)
                                    for d in range(PIPELINE_DAYS)]}, f)
        else:
            cfg["tables"] = os.path.join(inputs, "tables")
            gen.write_tables(cfg["tables"], a.seed)

        cfg_path = os.path.join(run_dir, "config.json")
        ticks0 = cpu_ticks()
        cfg["t0"] = time.monotonic()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        res = run_child(cfg_path, run_dir, env, cfg["out"], deadline)
        steal, total = (end - start for start, end in zip(ticks0, cpu_ticks()))
        worker_s = time.monotonic() - cfg["t0"]

        probe_s = stats.median(res["probe_s"])
        e2e, raw = end_to_end(res), end_to_end(res, scaled=False)
        bad = res["failed"] + res["mismatched"]
        summary = {
            "workload": a.workload, "seed": a.seed, "cpus": cpus(), "trace": a.trace,
            "attempted": res["attempted"], "failed": res["failed"],
            "mismatched": res["mismatched"], "n_warm": res["n_warm"],
            "tail_pct": res["tail_pct"],
            # CPU time the hypervisor gave to other guests during the worker:
            # a run that reads slow with high steal was measured on a busy host
            "steal_pct": 100.0 * steal / max(total, 1),
            "worker_wall_s": worker_s, "probe_s": probe_s, "probe_samples": len(res["probe_s"]),
            "checks": res["checks"], "call_log": res["call_log"],
            "probe_ops": [[round(x, 5) for x in p] for p in res["probe_ops"]], **e2e,
        }
        if a.trace:
            res["layer"]["trace.op_s_p50"] = e2e["op_s_p50"]
            metrics = {k: {"value": float(res["layer"].get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            last = os.path.join(out_dir, f"last-{a.workload}.json")
            if os.path.exists(last):
                with open(last) as f:
                    untraced = json.load(f)["op_s_p50"]
                summary["tracing_overhead_s"] = e2e["op_s_p50"] - untraced
            summary["trace_file"] = cfg["trace_out"]
            for q, figures in res.get("per_query", {}).items():
                summary[q] = {k: round(v, 4) for k, v in figures.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
            with open(os.path.join(out_dir, f"last-{a.workload}.json"), "w") as f:
                json.dump(summary, f)
        for k, v in summary.items():
            print(f"{k:>22}: {v}", file=sys.stderr)
        for k, u in {**END_TO_END, **UNBOUNDED}.items():
            print(f"{k:>34} = {e2e[k]:.6g} {u}  (as measured: {raw[k]:.6g})", file=sys.stderr)
        if a.trace:
            for k, m in metrics.items():
                print(f"{k:>34} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
        print(json.dumps({"correct": bad == 0, "attempted": res["attempted"],
                          "failed": bad, "metrics": metrics}))
        return 0
    finally:
        stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
