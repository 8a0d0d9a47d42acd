"""CDC workload benchmark for flink_cdc_spark.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (``BENCHMARK.json`` says why each exists):
  snapshot_load  YAML batch pipeline via cli.run_pipeline, parquet -> parquet
  carry_views    IncrementalJoinView over staged changelog epochs

A run sizes Spark to the host (local[<cores>], heap = a quarter of RAM up to
2 GiB) and generates its inputs. It then imports and starts the engine,
lets the engine stage its inputs (together: ``setup_s``), measures for
``--seconds``, checks every output, and prints one JSON line last.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs half the
window untraced and half traced and reports the per-layer metrics (spans
written to ``.cdcbench_out/``). Metric definitions and the layer -> metric
map are in ``METRICS.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import common, tracing  # noqa: E402

# scored end-to-end metrics; the ones beside them are printed for people
# (METRICS.md says why the wall-clock rate is not scored)
END_TO_END = {
    "setup_s": "s",
    "events_per_cpu_s": "1/s",
}
REPORTED = {
    "events_per_s": "1/s",
    "peak_rss_mb": "MB",
    "fail_ratio": "ratio",
}

PER_LAYER = {
    "engine.peak_rss_mb": "MB",
    "sources.snapshot_read_s": "s",
    "operators.transform_s": "s",
    "pipeline.compose_s": "s",
    "pipeline.route_merge_s": "s",
    "sinks.materialize_write_s": "s",
    "expressions.compile_calls": "count",
    "expressions.compile_s": "s",
    "core.route_calls": "count",
    "core.route_s": "s",
    "streaming.epochs": "count",
    "streaming.rows_per_epoch": "rows",
    "streaming.epoch_s": "s",
    "streaming.body_s": "s",
    "streaming.framework_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.query_planning_s": "s",
    "sinks.lsm_merge_calls": "count",
    "sinks.lsm_merge_s": "s",
    "sinks.lsm_compact_calls": "count",
    "sinks.lsm_compact_s": "s",
    "sinks.lsm_read_calls": "count",
    "sinks.lsm_read_s": "s",
    "sinks.lsm_state_bytes": "bytes",
    "sinks.lsm_files": "count",
    "trace.overhead_ratio": "ratio",
}

# span name -> (calls metric, self-time metric)
SPAN_METRICS = {
    "expressions.compile": ("expressions.compile_calls", "expressions.compile_s"),
    "core.route": ("core.route_calls", "core.route_s"),
    "sinks.lsm_merge": ("sinks.lsm_merge_calls", "sinks.lsm_merge_s"),
    "sinks.lsm_compact": ("sinks.lsm_compact_calls", "sinks.lsm_compact_s"),
    "sinks.lsm_read": ("sinks.lsm_read_calls", "sinks.lsm_read_s"),
    "pipeline.compose": (None, "pipeline.compose_s"),
}


WORKLOADS = {
    "snapshot_load": ("cdcbench.wl_snapshot", "SnapshotLoad"),
    "carry_views": ("cdcbench.wl_carry", "CarryViews"),
}


def _layer_metrics(workload, out, tracer) -> dict:
    per = max(1, out.traced_passes)
    self_times = tracer.self_times()
    m = {name: 0.0 for name in PER_LAYER}
    for span, (calls_key, time_key) in SPAN_METRICS.items():
        calls, secs = self_times.get(span, (0, 0.0))
        if calls_key:
            m[calls_key] = calls / per
        m[time_key] = secs / per
    m.update(workload.finish_layers(out, self_times, per))
    if out.untraced_op_s and out.traced_op_s:
        m["trace.overhead_ratio"] = (
            common.median(out.traced_op_s) / common.median(out.untraced_op_s))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_run = time.perf_counter()
    run_root = common.RunRoot()
    with run_root as root:
        sizing = common.configure_environment(root)
        t0 = time.perf_counter()
        import flink_cdc_spark.session  # noqa: F401  (fails fast outside a full checkout)

        import_s = time.perf_counter() - t0
        module, cls = WORKLOADS[args.workload]
        workload = getattr(importlib.import_module(module), cls)(args.seed, root)
        workload.generate(run_root.sub("in"))
        steal = common.steal_reader()
        try:
            t0 = time.perf_counter()
            spark = common.start_session()
            start_s = time.perf_counter() - t0
            rss = common.RssSampler(common.jvm_pid())
            rss.start()
            t0 = time.perf_counter()
            workload.stage(spark)
            stage_s = time.perf_counter() - t0
            tracer = tracing.Tracer(f"{args.workload}-{args.seed}") if args.trace else None
            t_measure = time.perf_counter()
            out = workload.measure(spark, args.seconds, tracer)
            measure_s = time.perf_counter() - t_measure
            rss.stop()
            steal_pct = steal()
            layers = _layer_metrics(workload, out, tracer) if tracer else None
        finally:
            common.shutdown_jvm()

    e2e = {
        "setup_s": import_s + start_s + stage_s,
        "events_per_cpu_s": common.median(out.cpu_rates),
        "events_per_s": common.median(out.rates),
        "peak_rss_mb": rss.peak_mb,
        "fail_ratio": out.failed / max(1, out.attempted),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": sizing["cpus"],
        "driver_heap_mb": sizing["heap_mb"], "import_s": import_s,
        "session_start_s": start_s, "stage_s": stage_s,
        "host_steal_pct": steal_pct, "measure_wall_s": measure_s,
        "run_wall_s": time.perf_counter() - t_run,
        "events_per_s_passes": out.rates, "events_per_cpu_s_passes": out.cpu_rates,
        **out.info,
    }
    if tracer is not None:
        path = os.path.join(common.TRACE_OUT, f"trace-{args.workload}-s{args.seed}.json")
        tracer.dump(path)
        info["spans"] = os.path.relpath(path, common.REPO_ROOT)
    units = dict(END_TO_END, **REPORTED)
    print("  ".join(f"{k}={v:.6g} {units[k]}" for k, v in e2e.items()))
    print(json.dumps({"info": info}))
    if layers is not None:
        layers["engine.peak_rss_mb"] = rss.peak_mb
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in END_TO_END}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
