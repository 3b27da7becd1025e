"""Layer spans and Spark job attribution for the traced run.

A span is recorded around each call into an engine layer: name, start,
end, parent and the operation it belongs to.  Because Spark is lazy,
the layer's output is forced (``localCheckpoint`` + ``count``) inside the
span, so the span holds the layer's own work and its row count.  Each
span runs under its own Spark job group, and after the run the Spark
event log attributes jobs, tasks, executor CPU, GC, shuffle and spill to
spans (``tools/shuffle_audit.parse_event_log`` for the byte counters and
task counts).  Spans stay in memory until the run ends.

With tracing off only the operation's job group is set: no spans, no
forcing, so the timed path runs the engine's plans unchanged.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None
    force_s: float = 0.0  # spent materializing the output, tracing's cost
    stats: dict = field(default_factory=dict)  # filled from the event log

    @property
    def group(self) -> str:
        return f"{self.op}#{self.id}"


class Tracer:
    """Records spans for the operation currently running."""

    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: str | None = None

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group, interruptOnCancel=False)

    @contextlib.contextmanager
    def op(self, op_id: str) -> Iterator[None]:
        """Root of one operation; its jobs carry ``op_id`` as job group
        even with tracing off."""
        self._op = op_id
        self._set_group(op_id)
        try:
            with self.span("op"):
                yield
        finally:
            self._set_group(None)
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled or self._op is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._op,
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else self._op)

    def force(self, df: DataFrame, span: Span | None) -> DataFrame:
        """Materialize ``df`` inside ``span`` and record its row count."""
        if span is None:
            return df
        t = time.time()
        df = df.localCheckpoint(eager=True)
        span.rows = (span.rows or 0) + df.count()
        span.force_s += time.time() - t
        return df


@contextlib.contextmanager
def instrumented(tracer: Tracer) -> Iterator[None]:
    """Wrap the engine's layer entry points, as ``plans.etl.run_etl`` and
    the registered queries call them, in spans for the duration."""
    if not tracer.enabled:
        yield
        return
    from pyspark.sql.readwriter import DataFrameWriter

    from credit_card_etl_pipeline_spark.plans import etl
    from credit_card_etl_pipeline_spark.queries import merchant_queries
    from credit_card_etl_pipeline_spark.sources import ingest

    def spanned(name: str, force: Callable[[Any, Span | None], Any] | None):
        """Wrap a function in span ``name``, forcing its output with ``force``."""
        def wrap(fn):
            def wrapped(*args, **kwargs):
                with tracer.span(name) as s:
                    out = fn(*args, **kwargs)
                    return force(out, s) if force else out
            return wrapped
        return wrap

    def force_each(frames: dict[str, DataFrame], s: Span | None) -> dict:
        return {k: tracer.force(v, s) for k, v in frames.items()}

    patches = [
        (etl, "statement_lines", spanned("ingest.decode", tracer.force)),
        (etl, "parse_banks", spanned("ingest.parse", force_each)),
        (ingest, "_headers_and_positions", spanned("ingest.header", None)),
        (etl, "extract_card_info", spanned("extract_cards", tracer.force)),
        (etl, "parse_bank_specific", spanned("bank_parse", tracer.force)),
        (etl, "general_cleanse", spanned("cleanse", tracer.force)),
        (merchant_queries, "resolve_merchant_hybrid",
         spanned("merchants.resolve", tracer.force)),
        (DataFrameWriter, "parquet", spanned("warehouse.write", None)),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        for obj, attr, wrap in patches:
            setattr(obj, attr, wrap(getattr(obj, attr)))
        yield
    finally:
        for obj, attr, orig in saved:
            setattr(obj, attr, orig)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def event_logs(log_dir: str) -> list[str]:
    out = []
    for p in glob.glob(os.path.join(log_dir, "*")):
        out += glob.glob(os.path.join(p, "events*")) if os.path.isdir(p) else [p]
    return out


@dataclass
class JobStats:
    """Per job group: job intervals and task CPU/GC time."""

    jobs: dict[str, list[tuple[float, float]]] = field(default_factory=dict)
    cpu_s: dict[str, float] = field(default_factory=dict)
    gc_s: dict[str, float] = field(default_factory=dict)


def job_stats(path: str) -> JobStats:
    """Job submit/complete times and executor CPU/GC per job group —
    what ``parse_event_log`` does not sum."""
    st = JobStats()
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, float]] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", "_unattributed")
                for si in ev.get("Stage Infos", []):
                    stage_group.setdefault(si["Stage ID"], g)
                job_group[ev["Job ID"]] = (g, ev.get("Submission Time", 0) / 1e3)
            elif kind == "SparkListenerJobEnd" and ev.get("Job ID") in job_group:
                g, t0 = job_group.pop(ev["Job ID"])
                st.jobs.setdefault(g, []).append(
                    (t0, ev.get("Completion Time", 0) / 1e3))
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"), "_unattributed")
                tm = ev.get("Task Metrics") or {}
                st.cpu_s[g] = st.cpu_s.get(g, 0.0) + (
                    tm.get("Executor CPU Time", 0) or 0) / 1e9
                st.gc_s[g] = st.gc_s.get(g, 0.0) + (
                    tm.get("JVM GC Time", 0) or 0) / 1e3
    return st


def attribute(spans: list[Span], log_dir: str) -> JobStats:
    """Fill each span's ``stats`` from the event log; returns the job
    stats of every group (operations run untraced included).  Needs the
    repository's ``tools/`` on ``sys.path``."""
    from shuffle_audit import parse_event_log

    bytes_by_group: dict[str, dict[str, int]] = {}
    tasks: dict[str, list[int]] = {}
    st = JobStats()
    for p in event_logs(log_dir):
        for g, acc in parse_event_log(p, task_durations=tasks).items():
            tgt = bytes_by_group.setdefault(g, {})
            for k, v in acc.items():
                tgt[k] = tgt.get(k, 0) + v
        one = job_stats(p)
        for g, iv in one.jobs.items():
            st.jobs.setdefault(g, []).extend(iv)
        for src, dst in ((one.cpu_s, st.cpu_s), (one.gc_s, st.gc_s)):
            for g, v in src.items():
                dst[g] = dst.get(g, 0.0) + v
    for s in spans:
        g = s.group
        b = bytes_by_group.get(g, {})
        s.stats = {
            "jobs": len(st.jobs.get(g, [])),
            "tasks": len(tasks.get(g, [])),
            "cpu_s": st.cpu_s.get(g, 0.0),
            "gc_s": st.gc_s.get(g, 0.0),
            "shuffle_bytes": b.get("shuffle_write_bytes", 0),
            "spill_bytes": b.get("memory_spill_bytes", 0) + b.get("disk_spill_bytes", 0),
            "output_bytes": b.get("output_bytes", 0),
        }
    return st


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of [start, end] that the intervals cover."""
    total, edge = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, edge), min(b, end)
        if b > a:
            total += b - a
            edge = b
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id and c.op == span.op]
    return span.end - span.start - _covered(span.start, span.end, kids)


def idle_frac(start: float, end: float, jobs: list[tuple[float, float]]) -> float:
    """Share of [start, end] during which no Spark job was running."""
    return 1.0 - _covered(start, end, jobs) / (end - start) if end > start else 0.0


def dump(spans: list[Span], path: str) -> None:
    with open(path, "w") as fh:
        json.dump([s.__dict__ | {"group": s.group} for s in spans], fh)
