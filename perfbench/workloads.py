"""The benchmark's workloads. Each drives the engine from outside:
it generates inputs, calls the public functions of ``sources``,
``plans``, ``operators`` and ``queries``, times those calls, and
checks what they return against DuckDB.

Every load is closed-loop: one client, one op at a time. Each
workload reads the driver's peak memory after its timed work and
before its checks, which run their DuckDB side in a child process.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.operators.metrics import (
    audience_metrics,
    reach_frequency,
    reach_frequency_rollup,
)
from samba_tv_ingest_etl_spark.plans.backfill import (
    Warehouse,
    backfill,
    v_audience_metrics,
)
from samba_tv_ingest_etl_spark.plans.incremental import (
    build_dag,
    read_watermark,
)
from samba_tv_ingest_etl_spark.sources.ingest import (
    FEED_SCHEMAS,
    build_ingest_dag,
    project_declared_schema,
    read_feed_table,
)
from samba_tv_ingest_etl_spark.sources.stage import discover_feed, read_stage_files

import env
import feeds as G
import host
from reference import (
    METRIC_COLUMNS,
    RF_COLUMNS,
    ROLLUP_DIMS,
    SESSION_COLUMNS,
    TOP_TITLES,
    WEEK_DIMS,
    Answers,
    same_result,
    same_rows,
)

# the MERGE targets' keys grow with the history, one day's affected
# keys do not: 12 history days put the broadcast threshold
# (env.BROADCAST_THRESHOLD) between them, so the MERGE anti-joins
# sort-merge and the DELETE anti-join broadcasts; with 8, every one
# broadcasts. One new day, timed on every host: it lands the last
# history day's held-back STB drop (feeds.LATE_STB_STEPS) with its own
# drops
ETL_SPEC = G.FeedSpec(history_days=12, new_days=1, events_per_day=2000)
RF_SPEC = G.FeedSpec(history_days=8, new_days=0)
RF_KINDS = ["rollup", "week", "household", "top_titles"]
# registry queries of serve by op kind: q25 runs the similarity
# operators (quantize, topk_bruteforce), q48 the dedup, text and
# components operators
LLM_QUERIES = {
    "ann_topk": "q25_ann_topk_bruteforce",
    "dup_components": "q48_dedup_components",
}
SERVE_KINDS = RF_KINDS + list(LLM_QUERIES)
# timed rounds of every op kind; more run only while --seconds last
SERVE_MIN_ROUNDS = 1
# tools/gen_testdata scale: 500 documents and 500 embeddings
LLM_SCALE = 0.01
RF_SPANS = {
    "rollup": "operators.metrics.reach_frequency_rollup",
    "week": "operators.metrics.reach_frequency",
    "household": "plans.backfill.v_audience_metrics.household",
    "top_titles": "plans.backfill.v_audience_metrics.top_titles",
}


@dataclass
class OpLog:
    """Attempted and failed ops, and the latency of each op kind."""

    latency: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def run(self, kind: str, fn, timed: bool = True):
        """Run one op; a raised exception counts it failed and returns
        None. Only ops that completed contribute a latency."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # an op failing is a measured outcome
            self.fail(kind, repr(e))
            return None
        if timed:
            self.latency[kind].append(time.perf_counter() - t0)
        return out

    def fail(self, kind: str, reason: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(f"{kind}: {reason}"[:400])

    def median(self, kind: str) -> float:
        xs = self.latency[kind]
        return statistics.median(xs) if xs else float("nan")

    def op_s(self) -> float:
        """Mean over op kinds of each kind's median latency."""
        return statistics.fmean(self.median(k) for k, v in self.latency.items() if v)


@dataclass
class Result:
    ops: OpLog
    setup_s: float
    named: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    # (day span id, that day's feed bytes) and (read span id, rows
    # returned), resolved against the event log after the run
    day_spans: list[tuple[str, int]] = field(default_factory=list)
    returned: list[tuple[str, int]] = field(default_factory=list)
    feed_bytes: int = 0
    stored_bytes: int = 0
    # read after the timed work, before the checks
    peak_rss_mb: float = 0.0
    jvm_old_gen_peak_mb: float = 0.0

    def read_memory(self, spark) -> None:
        self.peak_rss_mb = host.peak_rss_mb(env.jvm_pid(spark))
        self.jvm_old_gen_peak_mb = host.jvm_old_gen_peak_mb(spark)


class _Steps:
    """Wall time of each set-up step, as ``setup.<step>_s``."""

    def __init__(self):
        self.times: dict[str, float] = {}
        self._t = time.perf_counter()

    def done(self, step: str) -> None:
        now = time.perf_counter()
        self.times[f"setup.{step}_s"] = now - self._t
        self._t = now


def _files(*dirs: str) -> dict[str, int]:
    out = {}
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            for n in names:
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _feed_tables(spark, raw: str):
    return tuple(
        read_feed_table(spark, os.path.join(raw, feed.lower()), feed)
        for feed in ("ACR", "STB", "GEO_WEIGHTS")
    )


def _stage_tables(spark, stage: str):
    """The feeds straight from the stage, through ingest's own
    transform (what a one-shot backfill over the drops reads)."""
    return tuple(
        project_declared_schema(
            read_stage_files(spark, discover_feed(spark, stage, feed, G.FEED_DIRS[feed])),
            FEED_SCHEMAS[feed],
        )
        for feed in ("ACR", "STB", "GEO_WEIGHTS")
    )


def _warehouse(spark, root: str) -> Warehouse:
    """The engine's documented 100 TB layout."""
    return Warehouse(
        spark, root, layout=Warehouse.SCALE_LAYOUT,
        manifest=Warehouse.MANIFEST_TABLES,
    )


def _ingest(spark, tracer, stage: str, raw: str, ledger: str) -> list:
    with tracer.span("sources.ingest"):
        results = build_ingest_dag(spark, stage, raw, ledger).run()
    return list(results.values())


def _sessions(wh: Warehouse):
    return (
        wh.read("viewing_sessions")
        .select(*[
            F.col(c).cast("string") if c == "panel_monday" else F.col(c)
            for c in SESSION_COLUMNS
        ])
        .toPandas()
    )


def etl_daily(spark, tracer, work: str, seed: int, seconds: float,
              t0: float) -> Result:
    """Land a history and bootstrap the incremental warehouse, then
    time one new day (land -> ingest DAG -> five incremental tasks),
    whatever ``seconds`` says. The warehouse must then equal the DuckDB
    recomputation of the reference chain over every file that
    landed."""
    stage, raw = os.path.join(work, "stage"), os.path.join(work, "raw")
    ledger, ref_stage = os.path.join(work, "ledger"), os.path.join(work, "ref_stage")
    steps = _Steps()
    feeds = G.generate(seed, ETL_SPEC)
    G.land(feeds, stage, feeds.history())
    G.land_geo(feeds, stage)
    # every drop of the run, for the reference: it recomputes the chain
    # while the engine sets up
    G.land(feeds, ref_stage, feeds.all_days())
    G.land_geo(feeds, ref_stage)
    steps.done("generate")
    with Answers({"stage": ref_stage, "keys": [("sessions", None)]}, work) as ref:
        wh = _warehouse(spark, os.path.join(work, "wh"))
        ops = OpLog()
        res = Result(ops=ops, setup_s=0.0, named=steps.times)

        def day(step: int) -> None:
            landed = G.land(feeds, stage, feeds.landing(step))
            before = _files(raw, wh.root) if tracer.enabled else {}
            wm = read_watermark(wh, "raw_events_update") if tracer.enabled else None
            out: dict[str, object] = {}

            def run_day():
                with tracer.span("etl_daily.day") as s:
                    out["span"] = s
                    out["ingest"] = _ingest(spark, tracer, stage, raw, ledger)
                    dag = build_dag(wh, *_feed_tables(spark, raw))
                    for name in dag.order():
                        with tracer.span(f"plans.incremental.{name}"):
                            out[name] = dag.run_task(name)
                return True

            if ops.run("day", run_day) and tracer.enabled:
                _day_ratios(spark, res, stage, raw, wh, wm, landed, before, out)

        with tracer.prefixed("setup."):
            _ingest(spark, tracer, stage, raw, ledger)
            steps.done("ingest")
            with tracer.span("plans.incremental.bootstrap"):
                build_dag(wh, *_feed_tables(spark, raw)).run()
            steps.done("bootstrap")
            want = ref.result()
            steps.done("reference")
        res.setup_s = time.time() - t0

        for step in range(ETL_SPEC.new_days):
            day(step)
    res.read_memory(spark)

    t_check = time.perf_counter()
    if not same_rows(_sessions(wh), want[("sessions", None)], SESSION_COLUMNS):
        ops.fail("day", "viewing_sessions != DuckDB reference", len(ops.latency["day"]))
    res.named["check_s"] = time.perf_counter() - t_check
    res.named["day_s"] = ops.median("day")
    res.named["days"] = len(ops.latency["day"])
    res.feed_bytes = sum(_files(stage).values())
    res.stored_bytes = sum(_files(raw, wh.root).values())
    return res


def _day_ratios(spark, res, stage, raw, wh, wm, landed, before, out):
    """Per-day counts for the traced run, taken outside every span."""
    listed = len(_files(stage))
    loaded = sum(r.files_loaded for r in out["ingest"])
    res.samples["sources.ingest.new_file_ratio"].append(loaded / listed)
    after = _files(raw, wh.root)
    res.samples["sources.files_per_day"].append(len(set(after) - set(before)))
    day_bytes = sum(os.path.getsize(p) for p in landed)
    res.day_spans.append((out["span"].id, day_bytes))
    acr, stb, _ = _feed_tables(spark, raw)
    slice_rows = sum(
        t.filter(F.col("metadata_date") > F.lit(wm)).count() for t in (acr, stb)
    )
    res.samples["plans.incremental.merge_insert_ratio"].append(
        out["update_raw_events"] / slice_rows if slice_rows else 0.0
    )
    total = wh.read("viewing_sessions").count()
    res.samples["plans.incremental.affected_session_ratio"].append(
        out["update_viewing_sessions"] / total if total else 0.0
    )


def _rows(df):
    return df.columns, df.collect()


def _op(wh: Warehouse, kind: str, param: str | None):
    if kind == "rollup":
        return _rows(reach_frequency_rollup(v_audience_metrics(wh), ROLLUP_DIMS))
    if kind == "week":
        sessions = wh.read_partitions("viewing_sessions", [param])
        return _rows(reach_frequency(audience_metrics(sessions), WEEK_DIMS))
    if kind == "household":
        return _rows(v_audience_metrics(wh).filter(F.col("hh_id") == param))
    return _rows(
        v_audience_metrics(wh)
        .groupBy("title")
        .agg(F.sum("weighted_duration").alias("weighted_duration"))
        .orderBy(F.desc("weighted_duration"), "title")
        .limit(TOP_TITLES)
    )


# per read op kind: the columns its check compares, and whether row
# order is part of the answer
_CHECKED = {
    "rollup": (ROLLUP_DIMS + ["grouping_level"] + RF_COLUMNS, False),
    "week": (WEEK_DIMS + RF_COLUMNS, False),
    "household": (METRIC_COLUMNS, False),
    "top_titles": (["title", "weighted_duration"], True),
}


def check_op(expected: dict, kind: str, param, got) -> bool:
    """Does one read op's collected output equal the reference's
    answer, ``expected[(kind, param)]``?"""
    if got is None:
        return False
    columns, ordered = _CHECKED[kind]
    cols, rows = got
    frame = pd.DataFrame([tuple(r) for r in rows], columns=cols)
    return same_rows(frame, expected[(kind, param)], columns, ordered=ordered)


def serve(spark, tracer, work: str, seed: int, seconds: float,
          t0: float) -> Result:
    """Build a warehouse from the generator's history with
    ``backfill()`` and the registry's tables with ``tools/gen_testdata``,
    warm up with one untimed round of every op kind, then time rounds
    of the four read ops and the LLM-data queries of ``LLM_QUERIES``
    (at least ``SERVE_MIN_ROUNDS``, and while ``seconds`` last). Each
    op collects its result to the driver; each query runs after
    ``clearCache()``, as in bench.py. After the timed rounds, the
    warehouse and every op's output are checked against DuckDB."""
    from samba_tv_ingest_etl_spark import queries as Q

    sys.path.insert(0, os.path.join(env.ROOT, "tools"))
    import gen_testdata

    stage, data = os.path.join(work, "stage"), os.path.join(work, "sf")
    steps = _Steps()
    feeds = G.generate(seed, RF_SPEC)
    G.land(feeds, stage, feeds.all_days())
    G.land_geo(feeds, stage)
    # gen_testdata prints a line per table; standard output carries
    # only the benchmark's report and result
    with contextlib.redirect_stdout(sys.stderr):
        gen_testdata.generate(LLM_SCALE, data, seed)
    steps.done("generate")
    # every answer depends on the inputs alone, so the reference
    # computes them while the engine backfills
    oracles = Q.oracles()
    request = {
        "stage": stage,
        "keys": [(k, None) for k in
                 ("sessions", "mondays", "households", "weeks", "metrics",
                  "rollup", "top_titles")],
        "sf_dir": data, "oracles": {n: oracles[n] for n in LLM_QUERIES.values()},
    }
    with Answers(request, work) as ref:
        wh = _warehouse(spark, os.path.join(work, "wh"))
        ops = OpLog()
        t_bf = time.perf_counter()
        with tracer.span("plans.backfill.backfill"):
            backfill(wh, *_stage_tables(spark, stage))
        backfill_s = time.perf_counter() - t_bf
        ops.attempted += 1  # the backfill, checked with the reads
        steps.done("backfill")
        # op parameters from the reference, not from the engine's output
        want = ref.result()
    steps.done("reference")
    mondays, households = want[("mondays", None)], want[("households", None)]
    metrics = want[("metrics", None)]
    expected = {(k, None): want[(k, None)] for k in ("rollup", "top_titles")}
    expected.update({("week", m): w for m, w in want[("weeks", None)].items()})

    registry = Q.registry()
    rng = random.Random(seed)
    weeks = iter(range(1 << 30))

    def param(kind):
        # weeks in turn (their sizes differ), households at random
        if kind == "week":
            return mondays[next(weeks) % len(mondays)]
        if kind == "household":
            hh = rng.choice(households)
            expected[(kind, hh)] = metrics[metrics["hh_id"] == hh]
            return hh
        return None

    done = []

    def call(kind, timed):
        p = param(kind)
        if kind in LLM_QUERIES:
            name = LLM_QUERIES[kind]
            spark.catalog.clearCache()

            def op():
                with tracer.span(f"queries.{name}") as s:
                    return s, registry[name](spark, data).toPandas()
        else:
            def op():
                with tracer.span(RF_SPANS[kind]) as s:
                    return s, _op(wh, kind, p)
        got = ops.run(kind, op, timed=timed)
        span, out = got if got is not None else (None, None)
        done.append((kind, p, span, out, timed))

    # warm-up: an untimed round of every kind, checked with the rest
    with tracer.prefixed("setup."):
        for kind in SERVE_KINDS:
            call(kind, timed=False)
    steps.done("warmup")
    res = Result(ops=ops, setup_s=time.time() - t0, named=steps.times)

    t_loop = time.perf_counter()
    rounds = 0
    while rounds < SERVE_MIN_ROUNDS or time.perf_counter() - t_loop < seconds:
        for kind in SERVE_KINDS:
            call(kind, timed=True)
        rounds += 1
    res.read_memory(spark)

    t_check = time.perf_counter()
    if not same_rows(_sessions(wh), want[("sessions", None)], SESSION_COLUMNS):
        ops.fail("backfill", "viewing_sessions != DuckDB reference")
    for kind, p, span, got, timed in done:
        if got is None:
            continue
        if kind in LLM_QUERIES:
            if not same_result(got, want[LLM_QUERIES[kind]]):
                ops.fail(kind, "output != DuckDB oracle")
        elif not check_op(expected, kind, p, got):
            ops.fail(kind, f"output != DuckDB reference ({p})")
        if tracer.enabled and timed and kind in ("rollup", "week"):
            res.returned.append((span.id, len(got[1])))
    res.named["check_s"] = time.perf_counter() - t_check

    lat = sorted(x for k in RF_KINDS for x in ops.latency[k])
    p90 = _p90(lat)
    for kind in RF_KINDS:
        res.named[f"rf_{kind}_s"] = ops.median(kind)
    for kind in LLM_QUERIES:
        res.named[f"{kind}_s"] = ops.median(kind)
    res.named["rf_query_s.p90"] = p90
    res.named["rf_query_s.samples"] = len(lat)
    res.named["rf_query_s.beyond_p90"] = sum(1 for x in lat if x > p90)
    res.named["backfill_s"] = backfill_s
    res.named["rounds"] = rounds
    res.feed_bytes = sum(_files(stage).values())
    res.stored_bytes = sum(_files(wh.root).values())
    return res


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


WORKLOADS = {"etl_daily": etl_daily, "serve": serve}
