"""The benchmark's workloads: input materialization, one timed operation,
and the correctness check that follows every operation.

Each workload drives the program only through its public entry points
(``plans.pipeline.run_extraction_job``, ``queries.CATALOG[name].fn``,
``operators.corpus_spark.write_corpus`` and ``documents_df``); an input the
benchmark makes depends on the seed alone.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Catalog queries timed by ``catalog_core``: the integer rank recurrence of
# operators.linkgraph, which the link-graph queries share. Each catalog query
# costs seconds of job overhead even on a small input, and the first pass in
# a session about four times more, so a run affords one query; the
# eight-query roadmap slice takes about a minute per pass on four cores.
CATALOG_SLICE = ("host_pagerank",)


class Extract:
    """Fresh-table extraction: one ``run_extraction_job`` per operation over
    an ``n_docs`` synthetic corpus, into an empty snapshot table, so the
    resume anti-join is bypassed and the kernel stage carries the work."""

    # traced runs repeat the operations at local[1] for the 1->2 ratio
    scaling_leg = True
    # A session's first operations run slower while the JVM compiles and
    # the Python workers start: about twice as slow, then 10-20% slower,
    # then settled from the third on.
    warmup_ops = 2
    min_ops = 3

    def __init__(self, seed: int, n_docs: int) -> None:
        self.seed = seed
        self.n_docs = n_docs
        self.input = self.golden = self.table = ""

    def materialize(self, spark, root: str) -> dict[str, float]:
        """Write the corpus (the BASELINE columns only) and, beside it, the
        by-construction goldens."""
        from ocr_platform_spark.operators.corpus_spark import documents_df, write_corpus

        self.input = os.path.join(root, "input")
        self.golden = os.path.join(root, "golden")
        self.table = os.path.join(root, "table")
        t0 = time.perf_counter()
        write_corpus(spark, self.n_docs, self.input, seed=self.seed)
        write_s = time.perf_counter() - t0
        documents_df(spark, self.n_docs, self.seed, golden=True).select(
            "url", "expected_kind", "expected_text", "expected_error"
        ).write.mode("overwrite").parquet(self.golden)
        return {"operators.corpus_spark.write_s": write_s}

    def docs_per_op(self) -> int:
        return self.n_docs

    def prepare(self) -> None:
        """Reset the snapshot table before an operation (not timed)."""
        shutil.rmtree(self.table, ignore_errors=True)

    def op(self, spark, tracer) -> dict:
        from ocr_platform_spark.plans.pipeline import run_extraction_job

        return run_extraction_job(spark, spark.read.parquet(self.input), self.table)

    def _committed(self, sub: str, columns: list[str]) -> pa.Table:
        """Rows of every committed snapshot of the table, read without
        Spark so the check does not share the code path it checks."""
        from ocr_platform_spark.operators.resume import SnapshotTable

        table = SnapshotTable(self.table)
        parts = [
            pq.read_table(os.path.join(table.snap_root, run, sub), columns=columns)
            for run in table.committed_runs()
        ]
        return pa.concat_tables(parts) if parts else pa.table({c: [] for c in columns})

    def check(self, spark, result: dict) -> list[str]:
        """Golden byte-identity of every committed row, one row per input
        url, and lineage accounting. Returns the failures found."""
        cols = ["url", "payload_kind", "text", "error"]
        out = self._committed("data", cols)
        gold = pq.read_table(
            self.golden, columns=["url", "expected_kind", "expected_text", "expected_error"]
        )
        got = {r[0]: r[1:] for r in zip(*(out.column(c).to_pylist() for c in cols))}
        want = {r[0]: r[1:] for r in zip(*(c.to_pylist() for c in gold.columns))}
        failures = []
        bad = sum(got.get(url) != want.get(url) for url in got.keys() | want.keys())
        if bad:
            failures.append(f"golden_mismatches={bad} of {len(want)} urls")
        if len(got) != out.num_rows:
            failures.append(f"{out.num_rows - len(got)} duplicate committed urls")
        lineage_rows = pc.sum(self.lineage().column("input_count")).as_py()
        if not (lineage_rows == result.get("rows") == out.num_rows == self.n_docs):
            failures.append(
                f"lineage sum(input_count)={lineage_rows}, reported={result.get('rows')}, "
                f"committed={out.num_rows}, input={self.n_docs}"
            )
        return failures

    def check_first(self, spark, result: dict) -> list[str]:
        return self.check(spark, result)

    def lineage(self) -> pa.Table:
        return self._committed("lineage", ["input_count", "input_bytes", "elapsed_ms"])

    def trace_record(self) -> pa.Table:
        """What the layer metrics need from the table, read before the next
        operation resets it."""
        return self.lineage()

    def layers(self, events, tracer, group: str, wall: float, result: dict, lineage) -> dict:
        from spans import extraction_layers

        return extraction_layers(events, tracer, group, wall, self.n_docs, result, lineage)


def frame_hash(pdf) -> str:
    """Order-insensitive digest of a result frame (the oracle's canonical
    form: columns by name, rows sorted, floats by repr)."""
    from ocr_platform_spark.oracle import normalize_frame

    canon = normalize_frame(pdf)
    return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()


class Catalog:
    """The queries of ``CATALOG_SLICE``, each result collected into this
    process (a full evaluation of every column; the results are a few dozen rows).

    The link-graph queries build their graph from the catalog's own
    synthetic pages, so the seed does not change this workload's input."""

    scaling_leg = False
    # first passes of a session: about 20, 6 and 5 s, then 4-5 s
    warmup_ops = 3
    # A pass is some fifty short jobs in a chain, which a burst of CPU steal
    # on the host slows by a quarter to a half; the median of four passes
    # holds while one of them is slowed.
    min_ops = 4

    def __init__(self, seed: int) -> None:
        self.sf_dir = ""
        self.verified: dict[str, str] = {}

    def materialize(self, spark, root: str) -> dict[str, float]:
        """Nothing to write: the queries stage their own inputs."""
        self.sf_dir = os.path.join(root, "sf")
        return {}

    def docs_per_op(self) -> int:
        """Pages of the synthetic corpus the link graph is extracted from."""
        import inspect

        from ocr_platform_spark import queries

        return inspect.signature(queries._synth_docs).parameters["n"].default * len(CATALOG_SLICE)

    def prepare(self) -> None:
        pass

    def op(self, spark, tracer) -> dict:
        from ocr_platform_spark.queries import CATALOG

        frames = {}
        for name in CATALOG_SLICE:
            with tracer.span(f"queries.{name}"):
                frames[name] = CATALOG[name].fn(spark, self.sf_dir).toPandas()
        return frames

    def check_first(self, spark, frames: dict) -> list[str]:
        return self.verify_oracle(frames)

    def trace_record(self) -> None:
        return None

    def layers(self, events, tracer, group: str, wall: float, frames: dict, record) -> dict:
        from spans import query_layers

        return query_layers(events, tracer, group, CATALOG_SLICE)

    def verify_oracle(self, frames: dict) -> list[str]:
        """DuckDB oracle parity for every query of the slice, from the
        frames of one operation; their digests become the reference every
        later operation must reproduce."""
        import duckdb

        from ocr_platform_spark.oracle import compare_frames
        from ocr_platform_spark.queries import CATALOG

        con = duckdb.connect()
        try:
            failures = []
            for name, pdf in frames.items():
                res = compare_frames(pdf, con.execute(CATALOG[name].oracle).fetchdf())
                if not res.ok:
                    failures.append(f"{name}: oracle parity failed: {res.detail}")
                self.verified[name] = frame_hash(pdf)
            return failures
        finally:
            con.close()

    def check(self, spark, frames: dict) -> list[str]:
        return [
            f"{name}: result digest differs from the oracle-verified one"
            for name, pdf in frames.items()
            if frame_hash(pdf) != self.verified.get(name)
        ]
