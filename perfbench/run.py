"""Benchmark of the engine's KG build and corpus-prep job, run from the repo root:

    python3 perfbench/run.py --workload {kg_build,prep_job} \
        --seed N --seconds S --trace {0,1}

Sets up the workload (Spark session on local[4], inputs made from the
seed, warmup; timed as `setup_s`), runs timed iterations until S seconds
have passed, then times the host-noise control job in that session. Every
iteration's outputs are checked against `pins.json`; a mismatch or an
exception is a failed run. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (medians over the
iterations); with `--trace 1` one more iteration runs traced and the
metrics are its per-layer split (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procmon  # noqa: E402
import tracing  # noqa: E402

REPO = tracing.REPO
DEADLINE_S = 150.0  # no new iteration starts after this; the process must end by 180 s

SCALES = {
    "bench": {"kg_turns": 20_000, "prep_docs": 100},
    "tiny": {"kg_turns": 10_000, "prep_docs": 50},
}

# Host-noise control: bench_scaling's JVM-only flagship job, sized for 4 cores,
# timed right after the measured iterations and reported as its median wall
# (`host.control_s` and the detail line's `control`). Two sets compare their
# hosts by the ratio of their control medians.
CONTROL_TURNS = 50_000
CONTROL_REPEATS = 2

# Driver heap of the in-process session (the engine's default is 8g). Under
# 8g, G1 grows the heap from iteration to iteration, so the peak RSS of a run
# follows how many iterations the host's speed allowed: 2.5-5.0 GB over five
# seeds (perfbench/README.md). A 2g cap holds it within a few percent and
# keeps the benchmark small on a shared host.
DRIVER_MEM = "2g"

END_TO_END = {"wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}


PER_LAYER = [
    "mentions.wall_s", "mentions.python_s", "mentions.python_init_s",
    "triples.wall_s", "triples.shuffle_mb",
    "canonicalize.wall_s", "canonicalize.jobs",
    "lineage.wall_s", "lineage.jobs", "lineage.rows_written",
    "pipeline.construct_s", "pipeline.unattributed_s",
    "prep.jvm_start_s", "prep.audit_s", "prep.audit_jobs", "prep.dedup_s",
    "prep.tokenize_s", "prep.write_s", "prep.max_task_s",
    "spark.jobs", "spark.tasks", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_mb", "spark.spill_mb",
    "trace.wall_s", "trace.overhead_s", "host.control_s",
]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


class Context:
    def __init__(self, args):
        self.seed = args.seed
        self.scale = SCALES[args.scale]
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.env = dict(os.environ)
        self.session_conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the JVM's temp files and its perf-data file out of the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        }
        self.monitor = None

    def monitor_root(self, pid: int, whole: bool = False) -> None:
        self.monitor = procmon.TreeMonitor(pid, whole).start()


def start_spark(ctx, trace: bool, in_process: bool):
    from amr_kg_spark.session import get_spark

    conf = dict(ctx.session_conf)
    if trace and in_process:
        ctx.log_dir = os.path.join(ctx.work, "eventlog")
        conf.update(tracing.eventlog_conf(ctx.log_dir))
    spark = get_spark(app_name="perfbench", cores=4, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    procmon.wait_gone(procmon.descendants(os.getpid()))


def control(spark, fresh: bool) -> dict:
    """Time the host-noise control job. A session that has not run the
    engine yet runs it once untimed first."""
    from bench_scaling import _control_stats, _plan

    from amr_kg_spark.operators.mentions import detect_mentions_jvm

    def once() -> float:
        t0 = time.monotonic()
        _plan(spark, detect_mentions_jvm, CONTROL_TURNS).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    if fresh:
        once()
    walls = [once() for _ in range(CONTROL_REPEATS)]
    # the summary's baseline and box_price belong to bench_scaling's 32-core job
    return {"job": f"jvm@4 n={CONTROL_TURNS}", "walls_s": walls,
            "median_s": _control_stats(walls)["control_median"]}


def load_pins(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    ap.add_argument("--pins", default=os.path.join(HERE, "pins.json"))
    args = ap.parse_args()
    sys.path.insert(0, REPO)

    import amr_kg_spark  # noqa: F401 — fail before set-up when the engine is missing
    import workloads

    ctx = Context(args)
    workload = workloads.WORKLOADS[args.workload](ctx)
    pin_key = f"{args.workload}@{args.scale}"
    pins = load_pins(args.pins)
    expected = pins.get(pin_key)
    if expected is None:
        raise SystemExit(f"no pinned outputs for {pin_key} in {args.pins}")

    # prep_job runs the job as a child with its own session: its benchmark
    # process uses its session only for the control job, after the runs
    t0 = time.monotonic()
    spark = start_spark(ctx, bool(args.trace), workload.in_process)
    try:
        session_s = time.monotonic() - t0
        input_s = []
        for _ in range(3):
            t1 = time.monotonic()
            workload.make_inputs(spark)
            input_s.append(time.monotonic() - t1)
        t1 = time.monotonic()
        workload.warmup()
        setup_s = session_s + statistics.median(input_s) + (time.monotonic() - t1)

        runs = []
        measure_t0 = time.monotonic()
        while True:
            run, _ = timed_run(ctx, workload, expected)
            runs.append(run)
            now = time.monotonic()
            if ("error" in run or now - measure_t0 >= args.seconds
                    or now - T_START + run["wall_s"] > DEADLINE_S):
                break
        ctl = control(spark, fresh=not workload.in_process)
        if args.trace:
            traced = traced_run(ctx, workload, expected, runs)
            runs.append(traced["run"])
            traced["host.control_s"] = ctl["median_s"]

        timed = [r for r in runs if "error" not in r and not r.get("traced")]
        if not timed:
            print(json.dumps({"runs": runs}), file=sys.stderr)
            return 1
        failed = sum(1 for r in runs if not r["ok"])
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "runs": runs,
            "error_rate": {"value": failed / len(runs), "unit": "ratio"},
            "setup": {"session_s": session_s, "input_s": input_s, "setup_s": setup_s},
            "control": ctl,
        }
        if args.trace:
            metrics = traced
        else:
            metrics = {
                "wall_s": statistics.median(r["wall_s"] for r in timed),
                "cpu_s": statistics.median(r["cpu_s"] for r in timed),
                "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in timed),
                "setup_s": setup_s,
            }
    finally:
        t1 = time.monotonic()
        stop_spark(spark)
        stop_s = time.monotonic() - t1
    detail["setup"]["stop_s"] = stop_s
    if args.trace:
        metrics = finish_trace(ctx, workload, metrics)
        detail["layers"] = metrics
    units = END_TO_END if not args.trace else {n: unit_of(n) for n in PER_LAYER}
    shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


def timed_run(ctx, workload, expected, tracer=None) -> tuple[dict, object]:
    """One timed iteration (CPU and peak RSS of the driver's process tree
    alongside), then its output check outside the timed window."""
    run = {"ok": False}
    if workload.in_process:
        ctx.monitor_root(os.getpid())
    t0 = time.time()
    out = None
    try:
        out = workload.iterate(tracer)
        run["wall_s"] = time.time() - t0
        ctx.monitor.stop()
        run["cpu_s"], run["peak_rss_mb"] = ctx.monitor.cpu_s, ctx.monitor.peak_rss_mb
        run["peak_rss_by_command"] = ctx.monitor.peak_parts
        run["sampler_cpu_s"] = ctx.monitor.sampler_cpu_s
        run["got"] = workload.check(out)
        run["ok"] = run["got"] == expected
        if not run["ok"] and expected is not None:
            run["mismatch"] = {k: [run["got"].get(k), v] for k, v in expected.items()
                               if run["got"].get(k) != v}
    except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
        if ctx.monitor is not None:
            ctx.monitor.stop()
        run.setdefault("wall_s", time.time() - t0)
        run["error"] = traceback.format_exc()[-1500:]
    run["window"] = (t0, t0 + run["wall_s"])
    return run, out


def traced_run(ctx, workload, expected, runs) -> dict:
    """One more iteration with call-site tagging and spans on."""
    tracer = tracing.Tracer(run_id=f"{workload.name}-{ctx.seed}")
    tracer.tag_actions()
    workload.trace_hooks(tracer)
    try:
        run, _ = timed_run(ctx, workload, expected, tracer)
    finally:
        tracer.uninstall()
    run["traced"] = True
    untraced = statistics.median(r["wall_s"] for r in runs if "error" not in r)
    return {
        "run": run,
        "_tracer": tracer,
        "_window": run["window"],
        "trace.wall_s": run["wall_s"],
        "trace.overhead_s": run["wall_s"] - untraced,
    }


def finish_trace(ctx, workload, raw) -> dict:
    """Per-layer metrics of the traced iteration, after the session has
    stopped and its event log is complete."""
    tracer, window = raw.pop("_tracer"), raw.pop("_window")
    raw.pop("run")
    log_dir = workload.child_log if not workload.in_process else ctx.log_dir
    log = tracing.read_eventlog(log_dir)
    jobs = log["jobs"] if not workload.in_process else tracing.window_jobs(log, *window)
    metrics = {n: 0.0 for n in PER_LAYER}
    metrics.update(tracing.engine_metrics(log, jobs))
    metrics.update(workload.layers(tracer, log, window))
    metrics.update(raw)
    trace_dir = os.path.join(HERE, ".work", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    spans = tracer.spans + getattr(workload, "child_spans", [])
    with open(os.path.join(trace_dir, f"{workload.name}-seed{ctx.seed}.json"), "w") as fh:
        json.dump({"spans": spans, "jobs": jobs, "metrics": metrics}, fh)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
