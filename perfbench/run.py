"""Benchmark entry point.

    python3 perfbench/run.py --workload route_batch --seed 1 --seconds 12 --trace 0

Runs one workload in one process on ``local[<cores>]`` with one client
thread, checks every answer against an independent reference, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` records spans
around every call into a layer of the package and reports the per-layer
metrics; it also writes the span file and a per-layer self-time report to
``.perfbench_run/out/``. Exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analytics  # noqa: E402
import harness  # noqa: E402
import routing  # noqa: E402
from spans import Tracer, layer_report  # noqa: E402

WORKLOADS = ("route_batch", "route_interactive", "analytics")
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "throughput_per_s": "1/s", "latency_p50_ms": "ms"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "routing.osm_build.build_tiles_s": "s",
    "routing.graph.load_s": "s",
    "routing.graph.payload_mb": "MB",
    "routing.graph.snap_us_per_point": "us",
    "routing.engine.load_config_s": "s",
    **{f"routing.engine.{op}_p50_ms": "ms" for op in routing.OPS},
    "routing.engine.action_overhead_ms": "ms",
    "routing.engine.spark_jobs_per_request": "count",
    "routing.engine.spark_tasks_per_request": "count",
    "routing.engine.jvm_cpu_ms_per_request": "ms",
    "routing.engine.python_worker_cpu_ms_per_request": "ms",
    "routing.kernels.batch_busy_s": "s",
    "routing.kernels.sssp_origins": "count",
    "routing.kernels.pairs_per_origin": "ratio",
    "routing.kernels.p2p_ms": "ms",
    **{f"queries.{q}_s": "s" for q in analytics.QUERIES},
    "queries.plan_build_s": "s",
    "queries.spark_tasks_per_pass": "count",
    "sources.scan_s": "s",
}
DEADLINE_S = 170


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_workload(name, spark, tracer, seed, seconds, run_dir, session_age, steal0):
    """Returns (outcome with end-to-end metrics, per-layer metrics). With
    tracing on, layers the workload does not call are measured by short
    probes of the other workloads after its own measurement."""
    traced = tracer.enabled
    layers = {"session.start_s": (tracer.durations("session.get_spark")[0] if traced else 0.0, "s")}
    counter = routing.JobCounter(spark, traced)
    nw = tables = None
    if name == "analytics":
        tables = analytics.setup_tables(spark, tracer, seed, run_dir)
        setup_reps = tables.setup_reps_s
        out, passes = analytics.analytics(spark, tracer, tables, seed, seconds, counter)
    else:
        nw = routing.setup_network(spark, tracer, seed, run_dir)
        setup_reps = nw.setup_reps_s
        if name == "route_batch":
            out, jobs = routing.route_batch(spark, tracer, nw, seed, seconds, run_dir)
        else:
            out, reqs = routing.route_interactive(spark, tracer, nw, seed, seconds)
        routing.check_build(nw, out)
    out.info["measured_at_age_s"] = harness.process_age_s()
    out.info["host_steal_s"] = harness.host_steal_s() - steal0
    out.metrics["setup_s"] = (session_age + harness.median(setup_reps), "s")
    rss, out.info["rss_mb"] = harness.peak_rss_mb()
    out.metrics["peak_rss_mb"] = (rss, "MB")
    out.info["setup_reps_s"] = setup_reps
    if not traced:
        return out, {}

    # per-layer metrics: the workload's own layers, then probes for the rest
    probe_s = 0.0  # the shortest run: one job, one request block, one pass
    if nw is None:
        nw = routing.setup_network(spark, tracer, seed, run_dir, reps=1)
    layers.update(routing.network_layer_metrics(spark, tracer, nw, seed))
    if name != "route_batch":
        probe, jobs = routing.route_batch(spark, tracer, nw, seed, probe_s, run_dir)
        merge_checks(out, probe)
    layers.update(routing.batch_layer_metrics(spark, tracer, nw, jobs))
    if name != "route_interactive":
        probe, reqs = routing.route_interactive(spark, tracer, nw, seed, probe_s)
        merge_checks(out, probe)
    layers.update(routing.interactive_layer_metrics(nw, reqs))
    if tables is None:
        tables = analytics.setup_tables(spark, tracer, seed, run_dir, reps=1)
        probe, passes = analytics.analytics(spark, tracer, tables, seed, probe_s, counter, warmup=False)
        merge_checks(out, probe)
    layers.update(analytics.analytics_layer_metrics(spark, tracer, tables, passes))
    return out, layers


def merge_checks(out, probe) -> None:
    out.attempted += probe.attempted
    out.failed += probe.failed
    out.failures += probe.failures


def _metrics_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}


def untraced_baseline(out_dir: str, workload: str, seed: int) -> tuple[dict, str] | None:
    """End-to-end metrics of an untraced run of the same workload in this
    checkout: the same seed when there is one, else the median over seeds."""
    import glob

    same = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
    paths = [same] if os.path.exists(same) else sorted(glob.glob(os.path.join(out_dir, f"{workload}-seed*-trace0.json")))
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append({k: v["value"] for k, v in json.load(f)["end_to_end"].items()})
    if not runs:
        return None
    base = {k: harness.median([r[k] for r in runs]) for k in runs[0]}
    return base, (f"untraced run of seed {seed}" if paths == [same] else f"median of {len(runs)} untraced runs")


def write_trace_outputs(out_dir, workload, seed, tracer, out, layers, conf) -> str:
    """Span file, and a report with per-layer self times, the per-layer
    metrics and the tracing overhead against untraced runs of the same
    workload made earlier in this checkout."""
    tag = f"{workload}-seed{seed}"
    tracer.write(os.path.join(out_dir, f"{tag}-spans.jsonl"))
    found = untraced_baseline(out_dir, workload, seed)
    if found is None:
        overhead = f"no untraced {workload} result in {out_dir}; run it with --trace 0 first"
    else:
        base, source = found
        overhead = {"baseline": source}
        for k, (v, _u) in out.metrics.items():
            overhead[k] = {"traced": v, "untraced": base[k], "delta": v - base[k],
                           "delta_share": (v - base[k]) / base[k]}
    report = {
        "conf": conf,
        "layers_self_time": layer_report(tracer.spans),
        "per_layer_metrics": _metrics_json(layers),
        "traced_end_to_end": _metrics_json(out.metrics),
        "tracing_overhead": overhead,
    }
    path = os.path.join(out_dir, f"{tag}-report.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=2)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    out_dir = os.path.join(harness.WORK, "out")
    run_dir = os.path.join(harness.WORK, f"run-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    env = harness.pin_environment(run_dir)
    try:
        import duckdb_routing_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {harness.ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    tracer = Tracer(bool(args.trace))
    steal0 = harness.host_steal_s()
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = harness.start_session(run_dir)
        session_age = harness.process_age_s()
        conf = harness.effective_conf(spark, env)
        out, layers = run_workload(
            args.workload, spark, tracer, args.seed, args.seconds, run_dir, session_age, steal0
        )
    except Exception:  # noqa: BLE001 - report, then fail without a result line
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = layers if args.trace else {k: out.metrics[k] for k in E2E_UNITS}
    units = {k: u for k, (_v, u) in metrics.items()}
    if units != (PER_LAYER_UNITS if args.trace else E2E_UNITS):
        print(f"perfbench: metric names or units differ from the declared set: {units}", file=sys.stderr)
        return 1
    for k, (v, _u) in metrics.items():
        if not math.isfinite(v):
            print(f"perfbench: metric {k} is not a finite number: {v}", file=sys.stderr)
            return 1
    tag = f"{args.workload}-seed{args.seed}"
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": _metrics_json(metrics),
    }
    conf["workload"] = args.workload
    conf["seed"] = args.seed
    conf["seconds"] = args.seconds
    info = {"conf": conf, "info": out.info, "error_rate": out.failed / max(out.attempted, 1),
            "failures": out.failures, "end_to_end": _metrics_json(out.metrics)}
    with open(os.path.join(out_dir, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump({**result, **info}, f, indent=2)
    if args.trace:
        info["report"] = write_trace_outputs(out_dir, args.workload, args.seed, tracer, out, layers, conf)
    print("# " + json.dumps(info, default=str))
    for k, (v, u) in sorted(metrics.items()):
        print(f"# {k} = {v:.6g} {u}")
    print(json.dumps(result))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
