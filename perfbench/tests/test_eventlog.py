"""The event-log reader and the layer metrics built on it, over a small log
that Spark 4 wrote for three jobs: a two-stage aggregation and a scan under
job group ``op-0`` with the job descriptions ``layer.shuffle`` and
``layer.scan``, then one job outside any group."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.read(FIXTURE)


def test_jobs_carry_group_and_description(log):
    assert {j: (job.group, job.span) for j, job in log.jobs.items()} == {
        0: ("op-0", "layer.shuffle"),
        1: ("op-0", "layer.shuffle"),
        2: ("op-0", "layer.scan"),
        3: ("", ""),
        4: ("", ""),
    }


def test_stages_are_attributed_and_skipped_ones_dropped(log):
    # stage 1 was skipped (its shuffle output was reused) and stage 5 too
    assert [(s.stage_id, s.job_id, s.span) for s in log.stages] == [
        (0, 0, "layer.shuffle"),
        (2, 1, "layer.shuffle"),
        (3, 2, "layer.scan"),
        (4, 3, ""),
        (6, 4, ""),
    ]
    assert [s.stage_id for s in log.in_span("layer.shuffle")] == [0, 2]


def test_task_totals(log):
    by_id = {s.stage_id: s for s in log.stages}
    assert len(by_id[0].task_ms) == 3 and by_id[0].executor_run_ms == 840
    # the reduce stage reads exactly what the map stage wrote
    assert by_id[0].shuffle_write_bytes == by_id[2].shuffle_read_bytes == 859
    assert by_id[3].shuffle_read_bytes == by_id[3].shuffle_write_bytes == 0
    assert by_id[0].wall_s == pytest.approx(0.915)
    assert sorted(by_id[0].task_ms) == [55, 640, 659]


def test_in_group_keeps_one_operation(log):
    op = log.in_group("op-0")
    assert sorted(op.jobs) == [0, 1, 2]
    assert [s.stage_id for s in op.stages] == [0, 2, 3]
    assert eventlog.busy_s(op.stages) == pytest.approx(1.463)


def test_busy_s_is_the_union_of_stage_intervals():
    def st(lo, hi):
        return eventlog.Stage(0, 0, "", "", submit_ms=lo, complete_ms=hi)

    assert eventlog.busy_s([st(0, 1000), st(500, 1500), st(3000, 3500)]) == 2.0
    assert eventlog.busy_s([st(0, 2000), st(100, 200)]) == 2.0
    assert eventlog.busy_s([]) == 0.0


class _Tracer:
    def __init__(self, seconds):
        self._seconds = seconds

    def seconds(self, group, name):
        return self._seconds.get((group, name), 0.0)


def test_query_layers(log):
    got = spans.query_layers(
        log, _Tracer({("op-0", "queries.q"): 2.5}), "op-0", ["q"]
    )
    assert got == {"queries.q.s": 2.5, "queries.q.jobs": 0, "queries.q.shuffle_bytes": 0}


def test_extraction_layers_split_write_stages_by_shuffle_role():
    def st(sid, lo, hi, *, read=0, write=0, tasks=(100,), run=100):
        return eventlog.Stage(
            sid, 0, "op", spans.WRITE, submit_ms=lo, complete_ms=hi,
            task_ms=list(tasks), executor_run_ms=run,
            shuffle_read_bytes=read, shuffle_write_bytes=write,
        )

    stages = [
        st(0, 0, 100),  # range partitioner sketch
        st(1, 100, 400, write=5000),  # exchange map side
        st(2, 400, 2400, read=5000, tasks=(1000, 1000, 3000), run=6000),  # kernel + write
    ]
    log = eventlog.EventLog(
        {0: eventlog.Job(0, "op", spans.WRITE)}, stages
    )
    lineage = pa.table({"input_bytes": [10, 20, 30], "elapsed_ms": [1000, 1000, 2000]})
    tracer = _Tracer({("op", spans.PROBE): 0.2, ("op", spans.COMMIT): 0.3})
    got = spans.extraction_layers(
        log, tracer, "op", 3.0, 100, {"rows": 100}, lineage
    )
    assert got["operators.extract.stage_wall_s"] == 2.0
    assert got["operators.extract.executor_run_s"] == 6.0
    assert got["operators.extract.kernel_s"] == 4.0
    assert got["operators.extract.boundary_s"] == 2.0
    assert got["operators.extract.task_max_over_median"] == 3.0
    assert got["operators.partitioning.sample_s"] == pytest.approx(0.1)
    assert got["operators.partitioning.exchange_s"] == pytest.approx(0.3)
    assert got["operators.partitioning.shuffle_write_bytes"] == 5000
    assert got["operators.partitioning.partition_bytes_max_over_median"] == 1.5
    assert got["operators.partitioning.probe_s"] == 0.2
    assert got["operators.resume.commit_s"] == 0.3
    assert got["plans.pipeline.jobs"] == 1
    assert got["plans.pipeline.stages"] == 3
    assert got["plans.pipeline.driver_gap_s"] == pytest.approx(0.6)
