#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0

``--trace 0`` (timed run) prints the end-to-end metrics; ``--trace 1``
(traced run) runs the workload with the Spark event log on and a job
group per span, and prints the per-layer metrics. The last line of
standard output is the result object; the line before it is a report
with every named metric, the host context and any errors. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402

WORKLOAD_NAMES = ["etl_daily", "serve"]

# per-layer spans: (name, also reports .output_bytes)
SPANS = [
    ("sources.ingest", True),
    ("plans.incremental.update_panel_windows", True),
    ("plans.incremental.update_raw_events", True),
    ("plans.incremental.update_weighted_events", True),
    ("plans.incremental.update_viewing_sessions", True),
    ("plans.incremental.update_control_table", True),
    ("plans.backfill.backfill", True),
    ("operators.metrics.reach_frequency_rollup", False),
    ("operators.metrics.reach_frequency", False),
    ("plans.backfill.v_audience_metrics.household", False),
    ("plans.backfill.v_audience_metrics.top_titles", False),
    ("queries.q25_ann_topk_bruteforce", False),
    ("queries.q48_dedup_components", False),
]
SPAN_MEASURES = [
    ("s", "s"), ("jobs", "count"), ("tasks", "count"), ("driver_gap_s", "s"),
    ("shuffle_bytes", "bytes"), ("input_bytes", "bytes"),
]
# (name, unit, better)
RATIOS = [
    ("sources.ingest.new_file_ratio", "ratio", "higher"),
    ("sources.bytes_written_per_input_byte", "ratio", "lower"),
    ("sources.stored_bytes_per_input_byte", "ratio", "lower"),
    ("sources.files_per_day", "count", "lower"),
    ("plans.incremental.affected_session_ratio", "ratio", "lower"),
    ("plans.incremental.merge_insert_ratio", "ratio", "higher"),
    ("operators.metrics.rows_examined_per_row", "ratio", "lower"),
    ("failed_tasks", "count", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("gc_s", "s", "lower"),
    ("tracing_overhead", "ratio", "lower"),
    ("trace.unreconciled_spans", "count", "lower"),
    ("jvm.old_gen_peak_mb", "MB", "lower"),
]
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]


def per_layer_units() -> dict[str, tuple[str, str]]:
    out = {}
    for name, with_output in SPANS:
        for m, unit in SPAN_MEASURES + ([("output_bytes", "bytes")] if with_output else []):
            out[f"{name}.{m}"] = (unit, "lower")
    for name, unit, better in RATIOS:
        out[name] = (unit, better)
    return out


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _phase(workload: str, seed: int, seconds: float, work: str, t0: float,
           event_log: str | None = None):
    from host import cores
    from spans import Tracer
    from workloads import WORKLOADS

    os.makedirs(work, exist_ok=True)
    spark = env.start_spark(work, cores(), event_log)
    session_s = time.time() - t0
    tracer = Tracer(spark, f"{workload}-{seed}", enabled=event_log is not None)
    res = WORKLOADS[workload](spark, tracer, work, seed, seconds, t0)
    res.named["setup.session_s"] = session_s
    return spark, tracer, res


def _layer_metrics(tracer, res, untraced_op_s: float, log_dir: str) -> tuple[dict, dict]:
    from spans import measure_spans, read_event_log, span_metrics

    jobs = read_event_log(log_dir)
    measures = measure_spans(tracer.spans, jobs)
    by_id = {m.span.id: m for m in measures}
    names = [n for n, _ in SPANS]
    out = span_metrics(measures, names, {n for n, o in SPANS if o})
    for name, _, _ in RATIOS:
        out[name] = _median(res.samples.get(name, []))
    if res.day_spans:
        # etl_daily: bytes a day's spans wrote over that day's feed bytes
        per_day = [
            sum(m.output_bytes for m in measures
                if span_id in (m.span.id, m.span.parent)) / day_bytes
            for span_id, day_bytes in res.day_spans
        ]
    else:
        # serve: its one backfill over every drop
        per_day = [sum(
            m.output_bytes for m in measures
            if m.span.name == "plans.backfill.backfill"
        ) / res.feed_bytes]
    out["sources.bytes_written_per_input_byte"] = _median(per_day)
    out["sources.stored_bytes_per_input_byte"] = (
        res.stored_bytes / res.feed_bytes if res.feed_bytes else 0.0
    )
    out["operators.metrics.rows_examined_per_row"] = _median([
        by_id[sid].input_records / n for sid, n in res.returned if n
    ])
    out["failed_tasks"] = float(sum(j.failed_tasks for j in jobs))
    out["spill_bytes"] = float(sum(j.spill_bytes for j in jobs))
    out["gc_s"] = float(sum(j.gc_s for j in jobs))
    out["tracing_overhead"] = res.ops.op_s() / untraced_op_s - 1.0
    out["jvm.old_gen_peak_mb"] = res.jvm_old_gen_peak_mb
    unreconciled = [m.span.name for m in measures if not m.reconciled]
    out["trace.unreconciled_spans"] = float(len(unreconciled))
    detail = {
        "spans": len(measures),
        "jobs": len(jobs),
        "jobs_outside_spans": sum(1 for j in jobs if j.group is None),
        "unreconciled": unreconciled,
    }
    return out, detail


def _recorded_op_s(path: str, key: str) -> tuple[float, int] | None:
    """Median ``op_s`` of the correct timed runs recorded for this
    code (``key``) in ``path``, and how many there were."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        xs = [r["op_s"] for r in map(json.loads, fh) if r["key"] == key]
    return (statistics.median(xs), len(xs)) if xs else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    base = os.path.join(env.ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env.bootstrap(work)
    import host

    # the timed runs' op_s of this code, the traced run's baseline
    record = os.path.join(base, "timed", f"{args.workload}.jsonl")
    key = host.source_digest(env.ROOT, (env.PACKAGE, os.path.basename(HERE)))

    load_before = os.getloadavg()
    steal_before = host.cpu_jiffies()
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace}
    try:
        if args.trace:
            runs = []
            recorded = _recorded_op_s(record, key)
            if recorded is None:
                # no timed run of this code yet: run one first, on its
                # own cold JVM
                spark, _, timed = _phase(args.workload, args.seed, args.seconds,
                                         os.path.join(work, "timed"), T_START)
                env.shutdown(spark)
                runs.append(timed)
                recorded = (timed.ops.op_s(), 1)
                report["tracing_baseline"] = "an untraced phase of this run"
            else:
                report["tracing_baseline"] = f"{recorded[1]} timed runs of this code"
            untraced_op_s = recorded[0]
            log_dir = os.path.join(work, "eventlog")
            spark, tracer, res = _phase(args.workload, args.seed, args.seconds,
                                        os.path.join(work, "traced"), time.time(),
                                        event_log=log_dir)
            runs.append(res)
            # bench.py's CPU canary takes about 10 s; a run that had to
            # make its own baseline leaves it out to stay within 180 s
            report["cpu_canary_s"] = host.cpu_canary(spark) if len(runs) == 1 else None
        else:
            spark, _, res = _phase(args.workload, args.seed, args.seconds,
                                   os.path.join(work, "run"), T_START)
            runs = [res]
        rss = res.peak_rss_mb
        report["host"] = host.context(spark, env.ROOT, work)
        report["host"]["spark_canary_s"] = host.spark_canary(spark)
        report["host"]["io_canary_s"] = host.io_canary(os.path.join(work, "tmp"))
        env.shutdown(spark)
        if args.trace:
            metrics, report["trace"] = _layer_metrics(
                tracer, res, untraced_op_s, log_dir)
            units = {n: u for n, (u, _) in per_layer_units().items()}
            out_dir = os.path.join(base, "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}-spans.json"))
        else:
            metrics = {"setup_s": res.setup_s, "op_s": res.ops.op_s(), "peak_rss_mb": rss}
            units = {n: u for n, u, _, _ in END_TO_END}
        report["host"]["loadavg_before"] = load_before
        report["host"]["loadavg_after"] = os.getloadavg()
        steal, total = (a - b for a, b in zip(host.cpu_jiffies(), steal_before))
        report["host"]["cpu_steal_share"] = steal / total if total else 0.0
        attempted = sum(r.ops.attempted for r in runs)
        failed = sum(r.ops.failed for r in runs)
        named = dict(res.named)
        named.update(setup_s=res.setup_s, peak_rss_mb=rss,
                     jvm_old_gen_peak_mb=res.jvm_old_gen_peak_mb,
                     error_rate=failed / attempted)
        report["metrics"] = named
        report["latency_s"] = {k: v for r in runs for k, v in r.ops.latency.items()}
        report["errors"] = [e for r in runs for e in r.ops.errors]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace and failed == 0:
        os.makedirs(os.path.dirname(record), exist_ok=True)
        with open(record, "a") as fh:
            fh.write(json.dumps({"key": key, "seed": args.seed,
                                 "op_s": metrics["op_s"]}) + "\n")
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
