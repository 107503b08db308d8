"""Streaming hysteresis burst detection (streaming/bursts.py)."""

from __future__ import annotations

import os
import random

import pandas as pd
from pyspark.sql import functions as F

from ocr_platform_spark.streaming.bursts import (
    burst_transitions_batch,
    burst_transitions_stream,
    fold_transitions,
)


def _series(rng, n):
    """Counts with sustained surges and lone spikes."""
    ks = []
    for t in range(n):
        base = rng.randrange(0, 4)
        if 10 <= t < 15 or 30 <= t < 36:
            base += 10  # sustained surge -> should enter
        if t in (22, 41):
            base += 10  # lone spike -> hysteresis must ignore
        ks.append(base)
    return ks


def test_fold_hysteresis_semantics():
    ks = [0, 9, 9, 2, 2, 9, 0, 9, 9, 2, 2, 3]
    trans, in_burst, _ = fold_transitions(list(enumerate(ks)))
    # enters at second consecutive >= hi (t=2), exits after two < lo
    # (t=4); the 9 at t=5 alone cannot re-enter; re-enters at t=8, exits
    # at t=10
    assert trans == [(2, "enter"), (4, "exit"), (8, "enter"), (10, "exit")]
    assert not in_burst


def test_batch_matches_pure_fold(spark):
    rng = random.Random(3)
    rows, expect = [], []
    for key in ("a", "b", "c"):
        ks = _series(rng, 50)
        for t, k in enumerate(ks):
            rows.append((key, t, k))
        for t, kind in fold_transitions(list(enumerate(ks)))[0]:
            expect.append((key, t, kind))
    df = spark.createDataFrame(rows, "key string, t long, k long")
    got = [
        (r["key"], r["t"], r["kind"])
        for r in burst_transitions_batch(df).orderBy("key", "t").collect()
    ]
    assert got == sorted(expect)


def test_stream_matches_batch_across_microbatch_splits(spark, tmp_path):
    """The same series fed as 3 arbitrary micro-batch splits (per-key time
    order preserved across files) yields exactly the batch transitions —
    state carries runs across batch boundaries."""
    rng = random.Random(7)
    per_key = {key: _series(rng, 45) for key in ("a", "b")}
    rows = [
        (key, t, k) for key, ks in per_key.items() for t, k in enumerate(ks)
    ]
    batch_df = spark.createDataFrame(rows, "key string, t long, k long")
    expected = {
        (r["key"], r["t"], r["kind"])
        for r in burst_transitions_batch(batch_df).collect()
    }
    # a surge straddles the first split on purpose (t < 11 / 11 <= t < 33 / rest)
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    splits = [(0, 11), (11, 33), (33, 45)]
    for i, (lo, hi) in enumerate(splits):
        part = [(k, t, v) for k, t, v in rows if lo <= t < hi]
        pd.DataFrame(part, columns=["key", "t", "k"]).to_parquet(
            os.path.join(input_dir, f"batch-{i}.parquet")
        )
    stream = (
        spark.readStream.schema("key string, t long, k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        burst_transitions_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = {
        (r["key"], r["t"], r["kind"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == expected
    assert any(kind == "enter" for _, _, kind in got)
    assert any(kind == "exit" for _, _, kind in got)


def test_stream_flags_out_of_order_intervals_as_late(spark, tmp_path):
    """An interval arriving at or before a key's already-folded frontier
    (t <= last_t in state) is NOT folded — it surfaces as kind='late' and
    leaves the transition stream exactly what the in-order rows alone
    produce (no silent mis-folding)."""
    in_order = [("a", t, k) for t, k in enumerate([0, 9, 9, 2, 2, 3, 9, 9, 2, 2])]
    batch_df = spark.createDataFrame(in_order, "key string, t long, k long")
    expected = {
        (r["key"], r["t"], r["kind"])
        for r in burst_transitions_batch(batch_df).collect()
    }
    assert expected  # the series transitions; the late rows must not add more
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    # batch 0: t in [0, 6) — folds through t=5, frontier last_t=5
    pd.DataFrame(
        [r for r in in_order if r[1] < 6], columns=["key", "t", "k"]
    ).to_parquet(os.path.join(input_dir, "batch-0.parquet"))
    # batch 1: the rest PLUS two contract violators (t=1 replay, t=5 dup)
    late_rows = [("a", 1, 9), ("a", 5, 9)]
    pd.DataFrame(
        [r for r in in_order if r[1] >= 6] + late_rows,
        columns=["key", "t", "k"],
    ).to_parquet(os.path.join(input_dir, "batch-1.parquet"))
    stream = (
        spark.readStream.schema("key string, t long, k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    out_dir = str(tmp_path / "out")
    q = (
        burst_transitions_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = [(r["key"], r["t"], r["kind"]) for r in spark.read.parquet(out_dir).collect()]
    assert {g for g in got if g[2] == "late"} == {("a", 1, "late"), ("a", 5, "late")}
    assert {g for g in got if g[2] != "late"} == expected


def test_stream_flags_intra_batch_duplicate_t_as_late(spark, tmp_path):
    """A repeated t within ONE micro-batch is a contract violation too: the
    lowest-k row of that t is folded, every repeat comes back as
    kind='late'. Folded silently, the (5, 9) repeat below would start the
    second burst's run a step early (enter at t=6 instead of t=7)."""
    in_order = [("a", t, k) for t, k in enumerate([0, 9, 9, 2, 2, 3, 9, 9, 2, 2])]
    expected = {
        (r["key"], r["t"], r["kind"])
        for r in burst_transitions_batch(
            spark.createDataFrame(in_order, "key string, t long, k long")
        ).collect()
    }
    assert ("a", 7, "enter") in expected
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    pd.DataFrame(in_order + [("a", 5, 9)], columns=["key", "t", "k"]).to_parquet(
        os.path.join(input_dir, "batch-0.parquet")
    )
    stream = spark.readStream.schema("key string, t long, k long").parquet(input_dir)
    out_dir = str(tmp_path / "out")
    q = (
        burst_transitions_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = [(r["key"], r["t"], r["kind"]) for r in spark.read.parquet(out_dir).collect()]
    assert [g for g in got if g[2] == "late"] == [("a", 5, "late")]
    assert {g for g in got if g[2] != "late"} == expected
