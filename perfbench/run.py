"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed (cached per workload and seed under ``.perfbench/cache``), starts the
engine cold, runs one unmeasured warm-up pass, measures passes for
``--seconds``, checks every output, and prints one JSON object as the last
line of standard output. Earlier lines carry the run's details: the
machine fit, sample counts, the tail percentile the samples support, the
error rate and, on traced runs, every per-layer figure with the end-to-end
metric and workload it is predicted to move.

With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1``
measures twice as long, alternating untraced and traced passes, and
reports the per-layer metrics plus the tracing overhead between the two.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: per-layer figure -> (end-to-end metric it should move, on which workload)
PREDICTIONS = {
    "session.get_spark_s": ("setup_s", "every workload"),
    "session.warmup_s": ("setup_s", "every workload"),
    "session.scaling_ratio": ("emit_latency_ms_p50", "live_windows"),
    "catalog.load_table_ms": ("setup_s, suite_s", "batch_headline"),
    "queries.<module>.<query>_s": ("suite_s", "batch_headline"),
    "engine.tasks_per_pass": ("suite_s", "batch_headline"),
    "engine.jobs_per_pass": ("suite_s", "batch_headline"),
    "engine.unit_ms_p50": ("emit_latency_ms_p50", "live_windows"),
    "engine.planning_ms_p50": ("emit_latency_ms_p50", "live_windows"),
    "sources.files.latest_offset_ms_p50": ("emit_latency_ms_p50", "live_windows"),
    "sources.files.get_batch_ms_p50": ("emit_latency_ms_p50", "live_windows"),
    "sources.files.backlog_files_max": ("emit_latency_ms_p90", "live_windows"),
    "streaming.envelope.decode_records_per_s": ("emit_latency_ms_p50", "live_windows"),
    "streaming.dlq.split_records_per_s": ("emit_latency_ms_p50", "live_windows"),
    "streaming.dlq.poison_ratio": ("error_rate", "live_windows"),
    "streaming.pipeline.add_batch_ms_p50": ("emit_latency_ms_p50", "live_windows"),
    "streaming.pipeline.query_planning_ms_p50": ("emit_latency_ms_p50", "live_windows"),
    "streaming.pipeline.wal_commit_ms_p50": ("emit_latency_ms_p50", "live_windows"),
    "streaming.pipeline.commit_offsets_ms_p50": ("emit_latency_ms_p50", "live_windows"),
    "streaming.pipeline.batches": ("emit_latency_ms_p50", "live_windows"),
    "streaming.pipeline.state_rows_total": ("emit_latency_ms_p90", "live_windows"),
    "streaming.pipeline.state_memory_bytes": ("emit_latency_ms_p90", "live_windows"),
    "streaming.pipeline.state_commit_ms_p50": ("emit_latency_ms_p90", "live_windows"),
    "streaming.pipeline.rows_dropped_by_watermark": ("emit_latency_ms_p90", "live_windows"),
    # the keyed-state drain is a probe of live_windows' traced runs; no
    # end-to-end metric runs stateful_key_counts, so these move its own rate
    "streaming.stateful.add_batch_ms_p50": ("streaming.stateful.drain_records_per_s", "live_windows (traced)"),
    "streaming.stateful.state_rows_total": ("streaming.stateful.drain_records_per_s", "live_windows (traced)"),
    "streaming.stateful.state_memory_bytes": ("streaming.stateful.drain_records_per_s", "live_windows (traced)"),
    "streaming.stateful.state_update_ms_p50": ("streaming.stateful.drain_records_per_s", "live_windows (traced)"),
    "streaming.stateful.sink_files_per_batch": ("streaming.stateful.drain_records_per_s", "live_windows (traced)"),
    "bench.generator_lag_ms_p95": ("emit_latency_ms_p90 (validity)", "live_windows"),
    "bench.tracing_overhead_ratio": ("every metric (validity)", "every workload"),
}


#: a run ends, reporting no result, after this many passes in a row raise
MAX_FAILED_IN_A_ROW = 3


def _workloads() -> dict:
    from perfbench.headline import BatchHeadline
    from perfbench.streams import LiveWindows

    return {w.name: w for w in (LiveWindows, BatchHeadline)}


def _measure(workload, spark, seconds: float, trace: bool, tally) -> tuple[list, list]:
    """Passes until ``seconds`` of measuring have elapsed and at least the
    workload's ``min_passes`` have completed. A traced run measures twice
    as long, alternating untraced and traced passes, so both halves see the
    same warm-up state, and needs only one pass of each: its figures are
    per layer, not end to end, and it already runs twice as long. Returns
    (untraced, traced) passes, the same list twice when untraced. A pass
    that raises is a failed operation: it is counted and the run goes on,
    unless ``MAX_FAILED_IN_A_ROW`` passes in a row have raised."""
    untraced, traced = [], []
    t0 = time.perf_counter()
    i = failed_in_a_row = 0
    while True:
        tracing = trace and len(traced) < len(untraced)
        try:
            (traced if tracing else untraced).append(workload.run_pass(spark, i, tracing, seconds))
            failed_in_a_row = 0
        except Exception as e:  # noqa: BLE001 — a failed pass is a result, not a crash
            traceback.print_exc()
            tally.add(1, 1, f"pass {i} raised {type(e).__name__}")
            failed_in_a_row += 1
            if failed_in_a_row >= MAX_FAILED_IN_A_ROW:
                raise RuntimeError(f"{failed_in_a_row} passes in a row raised") from e
        i += 1
        timed_out = time.perf_counter() - t0 >= seconds * (2 if trace else 1)
        done = timed_out and len(untraced) >= (1 if trace else workload.min_passes)
        if done and (not trace or len(traced) == len(untraced)):
            return untraced, (traced if trace else untraced)


def _end_to_end(passes, setup_s: float, rss_mb: float) -> dict:
    from perfbench import metrics

    lat = [x for p in passes for x in p.latencies_ms]
    return {
        "setup_s": (setup_s, "s"),
        "records_per_s": (median([p.records / p.seconds for p in passes]), "1/s"),
        "emit_latency_ms_p50": (metrics.percentile(lat, 50), "ms"),
        "emit_latency_ms_p90": (metrics.percentile(lat, 90), "ms"),
        "suite_s": (median([p.seconds for p in passes]), "s"),
        "jvm_peak_rss_mb": (rss_mb, "MiB"),
    }


def _per_layer(engine_obj, spark, passes, base_passes, warmup_s: float) -> dict:
    from perfbench.engine import jobs_and_tasks

    counts = [jobs_and_tasks(spark, p.group) for p in passes]
    units = [x for p in passes for x in p.units_ms]
    planning = [x for p in passes for x in p.planning_ms]
    overhead = median([p.seconds for p in passes]) / median([p.seconds for p in base_passes])
    return {
        "session.get_spark_s": (engine_obj.get_spark_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "engine.jobs_per_pass": (median([j for j, _ in counts]), "count"),
        "engine.tasks_per_pass": (median([t for _, t in counts]), "count"),
        "engine.unit_ms_p50": (median(units), "ms"),
        "engine.planning_ms_p50": (median(planning), "ms"),
        "bench.tracing_overhead_ratio": (overhead, "ratio"),
    }


def _layer_details(passes) -> dict:
    """Every per-layer figure of the traced passes: the median over passes
    for numbers a pass reports once."""
    keys = sorted({k for p in passes for k in p.layers})
    out = {}
    for k in keys:
        vals = [p.layers[k] for p in passes if p.layers.get(k) is not None]
        out[k] = median(vals) if vals else None
    return out


def _scaling_ratio(workload, rate_n: float) -> dict:
    """Decode + DLQ-split rate at all cores over the rate of a single-core
    session (the single-threaded baseline), over the same input."""
    from perfbench.engine import Engine

    one = Engine()
    try:
        rate_1 = workload.split_probe(one.start("perfbench-1core", cpus=1))["streaming.dlq.split_records_per_s"]
    finally:
        one.stop()
    return {"session.scaling_ratio": rate_n / rate_1, "session.rate_1_core_records_per_s": rate_1}


def run(args) -> dict:
    from perfbench import engine, metrics
    from perfbench.streams import LiveWindows

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    cache = os.path.join(ROOT, ".perfbench", "cache")
    os.makedirs(cache, exist_ok=True)
    fit = engine.fit_to_machine(ROOT, work)
    print(json.dumps({"machine_fit": fit}), flush=True)
    workload = _workloads()[args.workload]()
    eng = engine.Engine()
    try:
        t_gen = time.perf_counter()
        workload.prepare(args.seed, work, cache)
        gen_s = time.perf_counter() - t_gen

        spark = eng.start(f"perfbench-{args.workload}")
        if args.trace:
            spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        t_warm = time.perf_counter()
        workload.warmup(spark)
        warmup_s = time.perf_counter() - t_warm
        setup_s = eng.get_spark_s + warmup_s

        tally = metrics.Tally()
        base, passes = _measure(workload, spark, args.seconds, args.trace, tally)
        probes = workload.trace_probes(spark, tally) if args.trace else {}
        workload.check(tally)
        rss_mb = eng.peak_rss_mb()
        if args.trace:
            layer = _per_layer(eng, spark, passes, base, warmup_s)
        eng.stop()
        if args.trace and isinstance(workload, LiveWindows):
            probes.update(_scaling_ratio(workload, probes["streaming.dlq.split_records_per_s"]))
    finally:
        eng.stop()
        shutil.rmtree(work, ignore_errors=True)

    summary = workload.reduce(base)
    lat = metrics.summarize([x for p in summary for x in p.latencies_ms])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "generate_s": gen_s,
        "passes": len(base),
        "pass_s": [p.seconds for p in base],
        "emit_latency_samples": lat["n"],
        "tail_rule": {"percentile": lat["tail_p"], "value_ms": lat["tail"], "samples": lat["n"]},
        "error_rate": tally.error_rate,
        "failures": tally.notes[:5],
    }
    lag = [x for p in base for x in p.lag_ms]
    if lag:
        detail["generator_lag_ms_p95"] = metrics.percentile(lag, 95)
        detail["generator_lag_ms_max"] = max(lag)
    print(json.dumps({"detail": detail}), flush=True)
    if args.trace:
        layers = {**_layer_details(passes), **probes, **{k: v for k, (v, _) in layer.items()}}
        layers["bench.tracing_overhead_base_pass_s"] = median([p.seconds for p in base])
        print(json.dumps({"layers": layers, "predicted_to_move": PREDICTIONS}), flush=True)
        chosen = layer
    else:
        chosen = _end_to_end(summary, setup_s, rss_mb)
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kinesis_sample_spark", "__init__.py")):
        print(f"engine package kinesis_sample_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in _workloads():
        print(f"unknown workload {args.workload!r}; known: {sorted(_workloads())}", file=sys.stderr)
        return 2
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
