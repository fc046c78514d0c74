#!/usr/bin/env python3
"""gosling benchmark: one command, two workloads, every metric with
its unit, outputs checked.

    python3 perfbench/run.py --workload jobs_stream --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` runs the same workload with
spans and Spark counters on and reports the per-layer metrics. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name → value and unit). A fuller record (host
stamps, seed, failures) goes to ``.perfbench_work/results/`` and the
spans of a traced run to ``.perfbench_work/traces/``. See
perfbench/README.md for the workloads and the metric-to-layer map.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.analytics import FAMILIES, QUERIES  # noqa: E402

WORKLOADS = ("jobs_stream", "analytics")

#: Gated metrics: the latency percentiles are per-layer (``run.*``)
#: because their spread across seeds reached 0.21-0.24 of the median on
#: one workload or the other, above what a bound can absorb.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "ops/s",
}

_FAMILY_UNITS = {"s": "s", "spark_jobs": "count", "spark_tasks": "count",
                 "shuffle_bytes": "bytes", "executor_run_s": "s", "executor_cpu_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "jvm.gc_ms": "ms",
    "jvm.code_cache_headroom_pct": "%",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
    "run.ops_failed_frac": "ratio",
    "run.latency_p50_s": "s",
    "run.latency_p99_s": "s",
    "client.row_build_s": "s",
    "streaming.ledger.append_s": "s",
    "streaming.ledger.log_files": "count",
    "streaming.ledger.log_bytes": "bytes",
    "streaming.ledger.scheduled_files": "count",
    "streaming.worker.tick_s": "s",
    "streaming.worker.spark_jobs": "count",
    "streaming.worker.spark_tasks": "count",
    "streaming.worker.executions": "count",
    "streaming.worker.micro_batches": "count",
    "streaming.worker.rows_per_batch_p50": "rows",
    "streaming.worker.trigger_ms_p50": "ms",
    "streaming.worker.add_batch_ms_p50": "ms",
    "streaming.worker.query_planning_ms_p50": "ms",
    "streaming.worker.wal_commit_ms_p50": "ms",
    "streaming.worker.latest_offset_ms_p50": "ms",
    "streaming.worker.backlog_drain_s": "s",
    "generator.lateness_max_s": "s",
    "api.dashboard_counts_s": "s",
    "api.size_s": "s",
    "api.page_s": "s",
    "api.find_by_id_s": "s",
    "api.read_p50_s": "s",
    "api.reads_per_s": "reads/s",
    "api.spark_jobs_per_read": "count",
    "operators.cache.build_s": "s",
    "operators.cache.builds_in_timed": "count",
    **{f"queries.{f}.{k}": u for f in FAMILIES for k, u in _FAMILY_UNITS.items()},
    **{f"queries.{q}.s": "s" for q in QUERIES},
}


def _workload_fn(name: str):
    if name == "jobs_stream":
        from perfbench.jobs import run_stream

        return run_stream
    from perfbench.analytics import run_analytics

    return run_analytics


def _write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True, default=str)


def run(args) -> dict:
    from perfbench.trace import Tracer

    work = common.Work(args.workload, args.seed)
    common.prepare_env(work)
    host_before = common.host_stamp()
    spark = None
    tracer = Tracer(args.trace == 1)
    try:
        with tracer.span("get_spark", "session"):
            spark, start_s = common.start_session()
        tracer.spark = spark
        tracer.listen_progress()
        t0 = time.perf_counter()
        timed_at = {}

        def mark_timed():
            timed_at["t"] = time.perf_counter()
            tracer.phase = "timed"
            common.log(f"set-up done after {timed_at['t'] - PROCESS_START:.1f} s")

        fn = _workload_fn(args.workload)
        e2e, layer, attempted, failed = fn(spark, tracer, work, args.seed,
                                           float(args.seconds), args.scale, mark_timed)
        end = time.perf_counter()
        common.log(f"workload and checks done after {end - PROCESS_START:.1f} s")
        e2e["setup_s"] = timed_at["t"] - PROCESS_START
        layer.update({
            "session.start_s": start_s,
            "session.warmup_s": timed_at["t"] - t0,
            "jvm.code_cache_headroom_pct": common.jvm_code_cache_headroom_pct(spark),
            "run.ops_failed_frac": len(failed) / max(1, attempted),
            "run.latency_p50_s": e2e.pop("latency_p50_s"),
            "run.latency_p99_s": e2e.pop("latency_p99_s"),
        })
        if tracer.enabled:
            layer["trace.overhead_s"] = tracer.overhead_s
            layer["trace.overhead_pct"] = 100.0 * tracer.overhead_s / max(1e-9, end - timed_at["t"])
            tracer.stop_listening()
            tracer.write(os.path.join(work.traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is not None:
            common.stop_session(spark)
        work.close()
    common.log(f"session stopped after {time.perf_counter() - PROCESS_START:.1f} s")

    correct = not failed
    if args.trace:
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "host_before": host_before, "host_after": common.host_stamp(),
        "end_to_end": e2e, "per_layer": layer,
        "attempted": attempted, "failed": failed[:50], "n_failed": len(failed),
    }
    _write_json(os.path.join(common.WORK_ROOT, "results",
                             f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), record)
    if failed:
        print(f"perfbench: {len(failed)} failed ops, first: {failed[:3]}", file=sys.stderr)
    return {"correct": correct, "attempted": int(attempted), "failed": len(failed),
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test sizes (sf0.001, a 2 s stream)")
    args = ap.parse_args(argv)
    if not common.engine_available():
        print(f"perfbench: the engine (goose_spark/) is not in {common.ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — no result line for a run that broke
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
