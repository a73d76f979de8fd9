"""Spans around the benchmark's calls into each layer, and their
attribution to Spark jobs through job groups and the event log.

A span records its name, start, end, parent and the run id. Before
the call it wraps, the span sets a Spark job group named after its
own id (the package sets none, so every group seen is one of ours);
on exit it restores its parent's group. Spans stay in memory until
the run writes them out.

With tracing off, ``Tracer.span`` records the wall time only and sets
no job group, so the timed run pays nothing for it.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# job intervals may reach this far past a span's edges (event-log
# timestamps are whole milliseconds taken on the JVM's clock)
EDGE_TOLERANCE_S = 0.05


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    run_id: str
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    # prepended to span names; set-up work runs under "setup."
    prefix: str = ""
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def prefixed(self, prefix: str):
        old, self.prefix = self.prefix, prefix
        try:
            yield
        finally:
            self.prefix = old

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}.{len(self.spans)}", name=self.prefix + name, start=0.0,
            parent=parent.id if parent else None, run_id=self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self._set_group(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of the one application logged under ``log_dir``, with
    their tasks' metrics summed per job."""
    files = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    id=ev["Job ID"], group=props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for st in job.stages:
                    stage_job.setdefault(st, job.id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                job.tasks += 1
                job.failed_tasks += bool(info.get("Failed"))
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                job.shuffle_bytes += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                inp = m.get("Input Metrics") or {}
                job.input_bytes += inp.get("Bytes Read", 0)
                job.input_records += inp.get("Records Read", 0)
                job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job.gc_s += m.get("JVM GC Time", 0) / 1000.0
    return sorted(jobs.values(), key=lambda j: j.id)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class SpanMeasure:
    span: Span
    jobs: int
    tasks: int
    job_s: float
    driver_gap_s: float
    shuffle_bytes: int
    input_bytes: int
    input_records: int
    output_bytes: int
    reconciled: bool


def measure_spans(spans: list[Span], jobs: list[Job]) -> list[SpanMeasure]:
    """Per span: its jobs (those whose group is the span's id), their
    summed task metrics, the part of the span's wall time the jobs
    cover, and the rest as ``driver_gap_s``. The span reconciles when
    each of its jobs lies inside its interval, so that job time plus
    driver gap is the span's wall time."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group is not None:
            by_group.setdefault(j.group, []).append(j)
    out = []
    for s in spans:
        mine = by_group.get(s.id, [])
        inside = all(
            j.start >= s.start - EDGE_TOLERANCE_S and j.end <= s.end + EDGE_TOLERANCE_S
            for j in mine
        )
        job_s = _covered([(max(j.start, s.start), min(j.end, s.end)) for j in mine])
        out.append(SpanMeasure(
            span=s, jobs=len(mine), tasks=sum(j.tasks for j in mine),
            job_s=job_s, driver_gap_s=s.wall - job_s,
            shuffle_bytes=sum(j.shuffle_bytes for j in mine),
            input_bytes=sum(j.input_bytes for j in mine),
            input_records=sum(j.input_records for j in mine),
            output_bytes=sum(j.output_bytes for j in mine),
            reconciled=inside and job_s <= s.wall + EDGE_TOLERANCE_S,
        ))
    return out


def span_metrics(measures: list[SpanMeasure], names: list[str],
                 with_output: set[str]) -> dict[str, float]:
    """``<span>.<measure>`` medians over the calls of each named span;
    a span this workload never entered reads 0."""
    out: dict[str, float] = {}
    for name in names:
        ms = [m for m in measures if m.span.name == name]

        def med(f):
            return float(statistics.median(f(m) for m in ms)) if ms else 0.0

        out[f"{name}.s"] = med(lambda m: m.span.wall)
        out[f"{name}.jobs"] = med(lambda m: m.jobs)
        out[f"{name}.tasks"] = med(lambda m: m.tasks)
        out[f"{name}.driver_gap_s"] = med(lambda m: m.driver_gap_s)
        out[f"{name}.shuffle_bytes"] = med(lambda m: m.shuffle_bytes)
        out[f"{name}.input_bytes"] = med(lambda m: m.input_bytes)
        if name in with_output:
            out[f"{name}.output_bytes"] = med(lambda m: m.output_bytes)
    return out
