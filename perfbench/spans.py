"""Spans around the calls into each layer, and the per-layer metrics they
give together with Spark's event log.

A span is opened by the benchmark's own code. While it is open, every Spark
job started from the calling thread carries the span name as its job
description, and the timed operation's id as its job group, so the event
log attributes each stage to a span (see eventlog.py).

Inside ``run_extraction_job`` the layer boundaries are program functions;
``patched`` wraps them in spans for the traced run only and restores them
afterwards.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from statistics import median

from eventlog import EventLog, busy_s

PROBE = "operators.partitioning.probe"
PENDING = "operators.resume.pending"
WRITE = "operators.extract.write"
COMMIT = "operators.resume.commit"


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield

    @contextmanager
    def operation(self, group: str):
        yield


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.group = ""
        self.stack: list[str] = []
        # (group, span name) -> seconds, summed over repeated entries
        self.spans: dict[tuple[str, str], float] = {}

    def _describe(self) -> None:
        self.sc.setLocalProperty("spark.job.description", self.stack[-1] if self.stack else None)

    @contextmanager
    def operation(self, group: str):
        self.group = group
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.group = ""

    @contextmanager
    def span(self, name: str):
        self.stack.append(name)
        self._describe()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            key = (self.group, name)
            self.spans[key] = self.spans.get(key, 0.0) + time.perf_counter() - t0
            self.stack.pop()
            self._describe()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def seconds(self, group: str, name: str) -> float:
        return self.spans.get((group, name), 0.0)


@contextmanager
def patched(tracer: Tracer):
    """Open a span around each layer call inside ``run_extraction_job``."""
    from ocr_platform_spark.operators.resume import SnapshotTable
    from ocr_platform_spark.plans import pipeline

    targets = [
        (pipeline, "_has_big_payloads", PROBE),
        (pipeline, "pending_documents", PENDING),
        (SnapshotTable, "stage_data", WRITE),
        (SnapshotTable, "commit", COMMIT),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    for obj, attr, name in targets:
        setattr(obj, attr, tracer.wrap(name, getattr(obj, attr)))
    try:
        yield
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


def _ratio(values: list[float]) -> float:
    if not values:
        return 0.0
    mid = median(values)
    return max(values) / mid if mid > 0 else 0.0


def extraction_layers(
    log: EventLog, tracer: Tracer, group: str, wall_s: float, n_input: int,
    result: dict, lineage,
) -> dict[str, float]:
    """Layer metrics of one traced ``run_extraction_job`` call.

    Stages started under the write span split by their shuffle role: the
    kernel stage reads the exchange and writes no shuffle; exchange stages
    write shuffle; sampling stages (the range partitioner's sketch) do
    neither."""
    op = log.in_group(group)
    write = [s for s in op.stages if s.span == WRITE]
    kernel = [s for s in write if s.shuffle_write_bytes == 0 and s.shuffle_read_bytes > 0]
    exchange = [s for s in write if s.shuffle_write_bytes > 0]
    sample = [s for s in write if s.shuffle_write_bytes == 0 and s.shuffle_read_bytes == 0]
    executor_run_s = sum(s.executor_run_ms for s in kernel) / 1000.0
    kernel_s = sum(lineage.column("elapsed_ms").to_pylist()) / 1000.0
    task_ms = [t for s in kernel for t in s.task_ms]
    return {
        "operators.extract.stage_wall_s": sum(s.wall_s for s in kernel),
        "operators.extract.executor_run_s": executor_run_s,
        "operators.extract.kernel_s": kernel_s,
        "operators.extract.boundary_s": executor_run_s - kernel_s,
        "operators.extract.task_max_over_median": _ratio(task_ms),
        "operators.extract.spill_bytes": sum(s.spill_bytes for s in op.stages),
        "operators.partitioning.probe_s": tracer.seconds(group, PROBE),
        "operators.partitioning.sample_s": sum(s.wall_s for s in sample),
        "operators.partitioning.exchange_s": sum(s.wall_s for s in exchange),
        "operators.partitioning.shuffle_write_bytes": sum(
            s.shuffle_write_bytes for s in exchange
        ),
        "operators.partitioning.partition_bytes_max_over_median": _ratio(
            lineage.column("input_bytes").to_pylist()
        ),
        "operators.resume.pending_s": tracer.seconds(group, PENDING),
        "operators.resume.input_rows": n_input,
        "operators.resume.pending_rows": result["rows"],
        "operators.resume.commit_s": tracer.seconds(group, COMMIT),
        "plans.pipeline.jobs": len(op.jobs),
        "plans.pipeline.stages": len(op.stages),
        "plans.pipeline.driver_gap_s": max(0.0, wall_s - busy_s(op.stages)),
    }


def query_layers(log: EventLog, tracer: Tracer, group: str, names) -> dict[str, float]:
    """Per-query wall, job count and shuffle bytes of one traced pass."""
    op = log.in_group(group)
    out = {}
    for name in names:
        span = f"queries.{name}"
        out[f"{span}.s"] = tracer.seconds(group, span)
        out[f"{span}.jobs"] = sum(1 for j in op.jobs.values() if j.span == span)
        out[f"{span}.shuffle_bytes"] = sum(s.shuffle_write_bytes for s in op.in_span(span))
    return out
