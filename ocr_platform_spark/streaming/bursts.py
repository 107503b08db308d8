"""Streaming hysteresis burst detection — the ONLINE face of
operators/bursts.py.

The batch operator labels a COMPLETE series with the globally optimal
two-state segmentation; a crawler reacting live can't wait for the
series to finish, so the streaming detector uses the classic
two-threshold HYSTERESIS rule (enter burst after ``enter_runs``
consecutive intervals at ``k >= hi``; exit after ``exit_runs``
consecutive intervals at ``k < lo``; the hi/lo gap prevents flapping) —
per-key state is three small integers, and the rule consumes intervals
strictly in time order, so replaying the same micro-batch sequence
reproduces the same transition stream (replay determinism, pinned in
tests/test_streaming_bursts.py along with batch ≡ stream equivalence
and arbitrary micro-batch splits).

Spark shape: ``applyInPandasWithState`` keyed by the burst key (the
sessionizer pattern — streaming/sessions.py); the batch twin runs the
SAME python fold per key via ``applyInPandas``, so the two faces cannot
drift. State never grows with time (no per-interval retention).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_DDL = "key string, t bigint, kind string"
_STATE_DDL = "in_burst boolean, run int, last_t bigint"

DEFAULT_HI = 8
DEFAULT_LO = 4
DEFAULT_ENTER_RUNS = 2
DEFAULT_EXIT_RUNS = 2


def fold_transitions(
    pairs: list[tuple[int, int]],
    in_burst: bool = False,
    run: int = 0,
    hi: int = DEFAULT_HI,
    lo: int = DEFAULT_LO,
    enter_runs: int = DEFAULT_ENTER_RUNS,
    exit_runs: int = DEFAULT_EXIT_RUNS,
) -> tuple[list[tuple[int, str]], bool, int]:
    """Pure fold: (t, k) pairs in t order + carried state -> (transitions,
    new_in_burst, new_run). One rule set for batch, stream, and tests."""
    out: list[tuple[int, str]] = []
    for t, k in pairs:
        if not in_burst:
            run = run + 1 if k >= hi else 0
            if run >= enter_runs:
                in_burst, run = True, 0
                out.append((t, "enter"))
        else:
            run = run + 1 if k < lo else 0
            if run >= exit_runs:
                in_burst, run = False, 0
                out.append((t, "exit"))
    return out, in_burst, run


def burst_transitions_batch(
    counts: DataFrame,
    key_col: str = "key",
    t_col: str = "t",
    k_col: str = "k",
    **kw,
) -> DataFrame:
    """(key, t, kind) — hysteresis transitions over a complete batch
    series, via the shared fold per key (applyInPandas)."""

    def func(pdf: pd.DataFrame) -> pd.DataFrame:
        from ocr_platform_spark.streaming.bursts import fold_transitions  # executor

        pdf = pdf.sort_values(t_col)
        pairs = list(zip((int(t) for t in pdf[t_col]), (int(k) for k in pdf[k_col])))
        trans, _, _ = fold_transitions(pairs, **kw)
        key = pdf[key_col].iloc[0] if len(pdf) else None
        return pd.DataFrame(
            {"key": [key] * len(trans), "t": [t for t, _ in trans],
             "kind": [kind for _, kind in trans]}
        )

    return counts.groupBy(key_col).applyInPandas(func, _OUT_DDL)


def _stream_func(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from ocr_platform_spark.streaming.bursts import fold_transitions  # executor

    (k_key,) = key
    if state.hasTimedOut:  # pragma: no cover - no timeout configured
        state.remove()
        return
    rows: list[tuple[int, int]] = []
    for pdf in pdfs:
        rows.extend(zip((int(t) for t in pdf["t"]), (int(v) for v in pdf["k"])))
    rows.sort()
    in_burst, run, last_t = state.get if state.exists else (False, 0, -1)
    # Out-of-order guard: the fold assumes per-key strictly increasing t
    # ACROSS and WITHIN micro-batches. An interval at or before the folded
    # frontier — an earlier batch's, or an earlier (t, k)-sorted row of
    # this batch with the same t — cannot be folded as if current (silent
    # mis-folding); it is excluded from the fold and surfaced in-band as a
    # ``late`` row so violations of the ordering contract are detected,
    # not swallowed.
    fresh: list[tuple[int, int]] = []
    late: list[tuple[int, int]] = []
    for t, k in rows:
        if t <= last_t:
            late.append((t, k))
        else:
            fresh.append((t, k))
            last_t = t
    trans, in_burst, run = fold_transitions(fresh, in_burst, run)
    state.update((in_burst, run, last_t))
    out = [(t, "late") for t, _ in late] + trans
    if out:
        yield pd.DataFrame(
            {"key": [k_key] * len(out), "t": [t for t, _ in out],
             "kind": [kind for _, kind in out]}
        )


def burst_transitions_stream(counts_stream: DataFrame) -> DataFrame:
    """Streaming face over a (key, t, k) stream: same fold, state carried
    across micro-batches. Intervals must arrive per key in t order across
    batches (the upstream hourly aggregate emits them that way); within a
    batch any order is fine (sorted by (t, k) before folding). A row at or
    before the key's folded frontier (``t <= last_t`` in state), or a
    repeat of an earlier row's ``t`` in the same batch (only the lowest-k
    row of a repeated ``t`` is folded), violates that contract: it is NOT
    folded and comes back as ``kind='late'`` instead, so out-of-order or
    duplicated input is detected rather than silently mis-folded."""
    return counts_stream.groupBy("key").applyInPandasWithState(
        _stream_func,
        outputStructType=_OUT_DDL,
        stateStructType=_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
