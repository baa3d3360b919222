#!/usr/bin/env python3
"""Benchmark of the quality-filter engine: one workload per invocation.

    python3 perfbench/run.py --workload batch_flagship --seed 1 --seconds 15 --trace 0

Set-up (timed as ``setup_s``) starts one local[4] Spark session, writes the
workload's seeded input tables and runs untimed warm-up operations.  The
run then repeats the workload's operation in a closed loop, one caller,
until ``--seconds`` have passed (at least one operation), checks every
output against the reference labeler, and prints one JSON line as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
plain operations with operations composed from the same public calls under
spans, runs the per-layer probes, reports the per-layer metrics and writes
the span tree to ``.bench_build/perfbench/trace-<workload>-seed<n>.json``.
Exit status: 0 when every output is correct, 1 when one is wrong (the
result line says so), 2 when the benchmark cannot run at all (no result).
"""

from __future__ import annotations

import argparse
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness  # noqa: E402

# timed operations per run at least: one, and in a traced run one plain
# plus one traced
MIN_OPS = {0: 1, 1: 2}

# Throughput in wall time, as a user sees it, and the operation's host CPU
# time beside it: on a shared host the hypervisor's steal moves wall time
# far more than CPU time (NOTES.md), while only wall time shows a change
# that leaves cores idle.
END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "op_cpu_s": "s",
    "keep_f1": "ratio",
    "extract_match": "ratio",
}

# span name -> per-layer metric, for the spans of a traced operation
SPAN_METRICS = {
    "operators.resume.pending": "operators.resume.pending_s",
    "operators.resume.lineage": "operators.resume.lineage_s",
    "operators.preview.write": "operators.preview.write_s",
    "plans.pipeline.build": "plans.pipeline.build_s",
    "plans.pipeline.write": "plans.pipeline.write_s",
    "plans.pipeline.readback": "plans.pipeline.readback_s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.input_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "session.host_steal_pct": "%",
    "sources.table.append_s": "s",
    "sources.table.scan_s": "s",
    "sources.table.files": "count",
    "functions.fused.pass_s": "s",
    "functions.fused.python_s": "s",
    "functions.fused.crossing_s": "s",
    "functions.extraction.extract_us_per_doc": "us",
    "functions.extraction.sha_us_per_doc": "us",
    "functions.langid.us_per_doc": "us",
    "functions.perplexity.us_per_doc": "us",
    "functions.fused.minhash_us_per_doc": "us",
    "functions.quality.exprs_s": "s",
    "functions.scrub.exprs_s": "s",
    "operators.dedup.exec_s": "s",
    "operators.dedup.exact_losers": "count",
    "operators.dedup.near_losers": "count",
    "operators.resume.pending_s": "s",
    "operators.resume.lineage_s": "s",
    "operators.preview.write_s": "s",
    "operators.compact.demote_s": "s",
    "operators.compact.history_demoted": "count",
    "plans.pipeline.build_s": "s",
    "plans.pipeline.write_s": "s",
    "plans.pipeline.readback_s": "s",
    "plans.pipeline.plan_s": "s",
    "plans.pipeline.jobs": "count",
    "plans.pipeline.stages": "count",
    "plans.pipeline.tasks": "count",
    "plans.pipeline.python_passes": "count",
    "streaming.incremental.history_scan_s": "s",
    "streaming.incremental.store_files": "count",
    "streaming.incremental.plain_tick_s": "s",
    "streaming.incremental.plain.python_passes": "count",
    "streaming.incremental.plain.plan_s": "s",
    "trace.op_untraced_s": "s",
    "trace.op_traced_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


def workloads():
    from perfbench.batch import BatchFlagship
    from perfbench.ticks import StateTicksHistory

    return {w.name: w for w in (BatchFlagship, StateTicksHistory)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["batch_flagship", "state_ticks_history"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the smoke test only")
    p.add_argument("--flip-one-keep", action="store_true",
                   help="self-test of the gate: invert one compared decision")
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def traced_metrics(tr, ops, probe_m) -> dict[str, float]:
    """Per-layer metrics from the span tree of the traced operations."""
    per_op: dict[str, list[float]] = {}
    coverage = []
    for op in ops:
        if op.traced_span is None:
            continue
        top = tr.spans[op.traced_span]
        sums = dict.fromkeys(SPAN_METRICS.values(), 0.0)
        sums.update({"plans.pipeline.jobs": 0, "plans.pipeline.stages": 0,
                     "plans.pipeline.tasks": 0})
        for rec in tr.subtree(op.traced_span):
            if rec["name"] in SPAN_METRICS:
                sums[SPAN_METRICS[rec["name"]]] += rec["dur"]
            sums["plans.pipeline.jobs"] += rec["jobs"]
            sums["plans.pipeline.stages"] += rec["stages"]
            sums["plans.pipeline.tasks"] += rec["tasks"]
        for k, v in sums.items():
            per_op.setdefault(k, []).append(v)
        coverage.append(top["coverage"] or 0.0)
    m = {k: median(v) for k, v in per_op.items()}
    # registry probe spans are <prefix>.build and <prefix>.exec
    for rec in tr.spans:
        if rec["name"].startswith("plans.driver_queries."):
            key = rec["name"].rsplit(".", 1)[0] + ".jobs"
            m[key] = m.get(key, 0) + rec["jobs"]
    m.update(tr.counts)
    m.update(probe_m)
    m["trace.op_untraced_s"] = median(
        [op.latency_s for op in ops if op.traced_span is None])
    m["trace.op_traced_s"] = median(
        [op.latency_s for op in ops if op.traced_span is not None])
    m["trace.overhead_s"] = m["trace.op_traced_s"] - m["trace.op_untraced_s"]
    m["trace.span_coverage"] = min(coverage) if coverage else 0.0
    return m


def run(args) -> int:
    run_dir = harness.WORK / f"{args.workload}-seed{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = harness.prepare_env(run_dir)
    process_start = T_START - harness.process_age_s()
    sampler = harness.HostSampler(track_rss=bool(args.trace)).start()

    from perfbench.trace import Tracer

    cls = workloads()[args.workload]
    spark = None
    try:
        spark = harness.start_spark(dirs["tmp"])
        t_session = time.perf_counter()
        start_s = t_session - process_start
        wl = cls(spark, run_dir, args.seed, args.scale)
        tr = Tracer(spark) if args.trace else None
        wl.prepare()
        t_input = time.perf_counter()
        wl.warmup()
        t_loop = time.perf_counter()
        setup_s = t_loop - process_start

        ops, failed_ops, problems = [], 0, []
        while wl.has_next() and (len(ops) + failed_ops < MIN_OPS[args.trace]
                                 or time.perf_counter() - t_loop < args.seconds):
            traced = tr is not None and (len(ops) + failed_ops) % 2 == 1
            try:
                cpu0 = harness.busy_cpu_s()
                op = wl.traced_op(tr) if traced else wl.op()
                op.cpu_s = harness.busy_cpu_s() - cpu0
                ops.append(op)
            except Exception:
                failed_ops += 1
                problems.append(traceback.format_exc())
        if not ops:
            raise RuntimeError("every timed operation failed")

        probe_m = {}
        if tr is not None:
            probe_m = wl.probes(tr)
            tr.finish()
        collected = wl.collect()
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        sampler.stop()

    checked, wrong, score, wrong_why = wl.check(collected, args.flip_one_keep)
    problems += wrong_why
    attempted = checked + failed_ops
    failed = wrong + failed_ops
    correct = failed == 0
    lat = [op.latency_s for op in ops]
    steal = sampler.steal_pct()

    if args.trace:
        m = traced_metrics(tr, ops, probe_m)
        m.update({"session.start_s": start_s,
                  "session.input_s": t_input - t_session,
                  "session.warmup_s": t_loop - t_input,
                  "session.peak_rss_mb": sampler.peak_rss / 2**20,
                  "session.host_steal_pct": steal})
        from perfbench.registry import metric_units

        units = {**PER_LAYER, **metric_units()}
        metrics = {k: (float(m.get(k, 0.0)), u) for k, u in units.items()}
        tr.write(harness.WORK / f"trace-{args.workload}-seed{args.seed}.json",
                 {"workload": args.workload, "seed": args.seed,
                  "metrics": {k: v for k, (v, _) in metrics.items()}})
    else:
        values = {
            "setup_s": setup_s,
            "docs_per_s": sum(op.docs for op in ops) / sum(op.wall_s for op in ops),
            "op_cpu_s": median([op.cpu_s for op in ops]),
            "keep_f1": score.keep_f1,
            "extract_match": score.extract_match,
        }
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}

    q1, med, q3 = harness.quartiles(lat)
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(ops)} op_s q1/med/q3={q1:.3f}/{med:.3f}/{q3:.3f} "
          f"cpu_s={median([op.cpu_s for op in ops]):.2f} "
          f"setup_s={setup_s:.2f} host_steal_pct={steal:.2f} "
          f"compared={score.compared}", file=sys.stderr)
    for p in problems:
        print(f"[perfbench] WRONG: {p}", file=sys.stderr)
    line = harness.result_line(correct, attempted, failed, metrics)
    harness.append_record({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "seconds": args.seconds, "op_s": lat,
        "wall_s": [op.wall_s for op in ops], "cpu_s": [op.cpu_s for op in ops],
        "host_steal_pct": steal,
        "run_s": time.perf_counter() - process_start,
        "problems": problems, "result": line})
    shutil.rmtree(run_dir, ignore_errors=True)
    print(line, flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import cfht2caom2_spark
        import tests.reference_impl  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here ({e})",
              file=sys.stderr)
        return 2
    if harness.ROOT not in Path(cfht2caom2_spark.__file__).resolve().parents:
        print(f"perfbench: the engine is not part of {harness.ROOT}",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
