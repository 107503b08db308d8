"""The repository's benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload as a closed
loop: the benchmark is the only client and starts the next operation when
the previous one, and its correctness check, have finished. Inputs are made
from ``--seed`` under ``.perfbench_work/`` in the checkout, which is removed
at exit; temporary files of Python, the JVM and Spark go there too.

A run:

1. times the extraction kernel on one core without Spark (the kernel probe);
2. starts a ``local[2]`` session, materializes the inputs three times into
   fresh directories and runs the workload's warm-up operations, until
   operation times have settled (set-up);
3. runs operations for ``--seconds`` of operation time (at least three for
   extraction, four for the catalog),
   checking every output after its timer stops;
4. with tracing only, restarts the session with Spark's event log on and
   runs three operations with spans around each layer call, then, for
   extraction, three more as ``local[1]`` for the 1->2 throughput ratio.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``, the end-to-end metrics of
BENCHMARK.json untraced and its per-layer metrics traced. A per-layer metric
of a layer the workload never enters reads 0. A readable summary goes to
standard error. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The box the benchmark is sized for has four cores. An operation is a chain
# of short Spark jobs; at local[4] the task threads, their Python workers,
# the driver JVM and this process want more cores than there are, and a few
# percent of CPU steal made catalog operations up to 75% slower, against
# about 25% at local[2], which is as fast when the host is quiet.
CORES = 2
SETUP_REPS = 3
MIN_OPS = 3
MAX_OPS = 40
# After this many seconds every remaining leg stops after one operation, so
# a slow box still ends the run within the three minutes it may take.
RUN_DEADLINE_S = 120
PROBE_DOCS = 2000
# The inputs are a few MB. A small heap keeps the machine's memory free for
# its other tenants; it is touched whole at start (see Session.start).
DRIVER_MEMORY = "1g"

# Each run must finish well within three minutes, set-up included, so the
# extraction corpus is sized for operations of about five seconds on two
# cores: about 3.3 s of job overhead, which any corpus size pays, and 1.7 s
# of extraction. Job overhead varies more between runs than extraction does,
# so the larger the extraction's share, the steadier the operation time.
EXTRACT_DOCS = 8000


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["OCR_SPARK_STAGE_DIR"] = os.path.join(work, "stage")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far: the share of time
    the hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def process_tree() -> list[int]:
    """This process and all its descendants: the Spark driver JVM, the
    Python worker daemon and its workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while being read
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


class PeakRss:
    """Peak resident memory of the process tree during each operation,
    sampled from /proc while open; ``peak_mb`` is the median over the
    operations, so one sample caught in a passing spike does not set it.

    Each process counts its proportional set size (Pss), which splits a
    shared page between the processes mapping it: the Python workers are
    forked from one daemon and share most of their pages, so summing plain
    RSS would count those once per worker. One sample reads the JVM's
    page tables and takes tens of milliseconds, so samples are spaced to
    keep the sampler from competing with the operations it measures."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.op_peaks_kb: list[int] = []
        self._current: int | None = None  # peak of the open window
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_pss_kb() -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            sample = self._tree_pss_kb()
            with self._lock:
                if self._current is not None:
                    self._current = max(self._current, sample)
            self._stop.wait(self.interval_s)

    @contextmanager
    def window(self):
        """Record the peak of the samples taken while open."""
        with self._lock:
            self._current = 0
        try:
            yield
        finally:
            with self._lock:
                if self._current:
                    self.op_peaks_kb.append(self._current)
                self._current = None

    @property
    def peak_mb(self) -> float:
        return median(self.op_peaks_kb) / 1024

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def kernel_probe(seed: int) -> tuple[float, int]:
    """Single-core extraction rate with no Spark: generate outside the
    timer, then time the ``extract_payload`` loop. Also counts outputs that
    differ from the goldens."""
    from ocr_platform_spark import corpus
    from ocr_platform_spark.kernels import extract_payload

    docs = corpus.gen_batch(range(PROBE_DOCS), seed)
    payloads = [d["html"] for d in docs]
    t0 = time.perf_counter()
    out = [extract_payload(p) for p in payloads]
    rate = PROBE_DOCS / (time.perf_counter() - t0)
    bad = sum(
        (kind, text, err) != (d["expected_kind"], d["expected_text"], d["expected_error"])
        for d, (kind, text, _spans, err) in zip(docs, out)
    )
    return rate, bad


class Session:
    """The Spark session, restartable with another core count in the same
    JVM, and the JVM's shutdown."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None

    def start(self, cores: int, event_log: str | None = None) -> float:
        from ocr_platform_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # builder options outlive a stopped session: always set this one
            "spark.eventLog.enabled": "false",
            # The driver's heap is committed and touched whole at start, so
            # its resident memory does not depend on when the collector
            # grows it.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{event_log}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(f"local[{cores}]", extra_conf=conf)
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until every process the
        run started has exited (the Python workers outlive the JVM briefly,
        reparented away from this process)."""
        from pyspark import SparkContext

        started = [pid for pid in process_tree() if pid != os.getpid()]
        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(map(_alive, started)):
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its parent's
    reap (a zombie) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Runner:
    def __init__(self, workload, seconds: float, deadline: float) -> None:
        self.wl = workload
        self.seconds = seconds
        self.deadline = deadline
        self.attempted = 0
        self.memory: PeakRss | None = None  # samples the timed operations
        self.failures: list[str] = []
        self.failed_ops = 0

    def fail(self, what: str, problems: list[str]) -> None:
        for p in problems:
            log(f"FAILED {what}: {p}")
        self.failures.extend(problems)

    def operation(self, spark, tracer, group: str):
        """One timed operation; returns (seconds, result)."""
        from spans import NullTracer

        self.wl.prepare()
        memory = self.memory.window() if self.memory else nullcontext()
        with memory, (tracer or NullTracer()).operation(group):
            t0 = time.perf_counter()
            result = self.wl.op(spark, tracer or NullTracer())
            return time.perf_counter() - t0, result

    def leg(
        self, spark, label: str, tracer=None, after=None, seconds=None, min_ops=MIN_OPS
    ) -> list[float]:
        """Timed operations for ``seconds`` of operation time (the run's
        by default), at least ``min_ops`` of them, each checked after its
        timer stops. Past the run's deadline a leg stops after one
        operation."""
        budget = self.seconds if seconds is None else seconds
        times: list[float] = []
        steal0, total0 = steal_ticks()
        done = 0
        while done < MAX_OPS and not (
            (done >= min_ops and sum(times) >= budget)
            or (done >= 1 and time.monotonic() > self.deadline)
        ):
            group = f"{label}-{done}"
            done += 1
            self.attempted += 1
            try:
                wall, result = self.operation(spark, tracer, group)
                times.append(wall)
                problems = self.wl.check(spark, result)
                if after is not None:
                    after(group, wall, result)
            except Exception:  # one failed operation must not end the run
                problems = [traceback.format_exc()]
            if problems:
                self.failed_ops += 1
                self.fail(group, problems)
        if not times:
            raise RuntimeError(f"no {label} operation completed")
        steal1, total1 = steal_ticks()
        log(
            f"{label}: operation seconds {_q(times)}; CPU steal "
            f"{100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%"
        )
        return times


def _q(values: list[float]) -> str:
    if len(values) < 2:
        return f"n={len(values)} {values}"
    q1, q2, q3 = quantiles(values, n=4)
    return f"n={len(values)} median={q2:.3f} q1={q1:.3f} q3={q3:.3f} all={[round(v, 2) for v in values]}"


def traced_layers(runner: Runner, session: Session, work: str, untraced: list[float]) -> dict:
    """Per-layer metrics: ``MIN_OPS`` operations in a fresh ``local[2]``
    session with Spark's event log on and spans around every layer call,
    each metric the median over those operations.

    The restarted session keeps the JVM, already warm, and starts new
    Python workers, which one warm-up operation absorbs. Tracing overhead
    compares the traced operations with the untraced timed ones. For
    extraction ``MIN_OPS`` operations then run at ``local[1]`` for the
    1->2 throughput ratio, which is measured in traced runs only."""
    import eventlog
    from spans import Tracer, patched

    wl = runner.wl
    event_dir = os.path.join(work, "eventlog")
    session.start(CORES, event_log=event_dir)
    spark = session.spark
    tracer = Tracer(spark.sparkContext)
    kept: dict[str, tuple] = {}

    def keep(group, wall, result):
        kept[group] = (wall, result, wl.trace_record())

    with patched(tracer):
        runner.operation(spark, tracer, "warmup-traced")
        traced = runner.leg(spark, "traced", tracer, keep, seconds=0)
    session.stop()
    (log_file,) = os.listdir(event_dir)
    events = eventlog.read(os.path.join(event_dir, log_file))
    per_op = [wl.layers(events, tracer, group, *k) for group, k in kept.items()]
    layers = {name: median(op[name] for op in per_op) for name in per_op[0]}

    layers["trace.overhead_frac"] = median(traced) / median(untraced) - 1.0
    if wl.scaling_leg:
        one = untraced_leg(runner, session, 1, "local1")
        layers[f"plans.pipeline.scaling_eff_1to{CORES}"] = median(one) / (CORES * median(untraced))
    return layers


def untraced_leg(runner: Runner, session: Session, cores: int, label: str) -> list[float]:
    """``MIN_OPS`` timed operations in a restarted session, after one
    warm-up operation."""
    session.start(cores)
    runner.operation(session.spark, None, f"warmup-{label}")
    return runner.leg(session.spark, label, seconds=0)


def run(args, work: str, spec: dict) -> dict:
    from workloads import Catalog, Extract

    workload = {
        "extract_uniform": lambda: Extract(args.seed, EXTRACT_DOCS),
        "catalog_core": lambda: Catalog(args.seed),
    }[args.workload]()
    runner = Runner(workload, args.seconds, time.monotonic() + RUN_DEADLINE_S)
    layers: dict[str, float] = {}

    probe_rate, probe_bad = kernel_probe(args.seed)
    log(f"kernel probe: {probe_rate:.0f} docs/s on one core, {probe_bad} mismatches")
    if probe_bad:
        runner.fail("kernel probe", [f"{probe_bad} of {PROBE_DOCS} outputs differ from goldens"])
    layers["kernels.probe_docs_per_s"] = probe_rate
    layers["kernels.probe_mismatches"] = probe_bad

    session = Session(work)
    try:
        start_s = session.start(CORES)
        spark = session.spark
        setup_reps, setup_layers = [], []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            setup_layers.append(workload.materialize(spark, os.path.join(work, f"setup{k}")))
            setup_reps.append(time.perf_counter() - t0)
        for name in setup_layers[0]:
            layers[name] = median(rep[name] for rep in setup_layers)
        # The first operations of a session run two to four times slower
        # than later ones (Python workers start, the JVM compiles); timed
        # operations start once times have settled.
        warm_times = []
        for k in range(workload.warmup_ops):
            warm_s, warm = runner.operation(spark, None, f"warmup-{k}")
            warm_times.append(warm_s)
            check = workload.check_first if k == 0 else workload.check
            runner.fail(f"warm-up {k}", check(spark, warm))
        setup_s = start_s + median(setup_reps) + sum(warm_times)
        log(
            f"set-up {setup_s:.2f}s: session {start_s:.2f}s, materialize "
            f"{_q(setup_reps)}, warm-up {[round(t, 2) for t in warm_times]}"
        )
        layers["session.start_s"] = start_s

        with PeakRss() as rss:
            runner.memory = rss
            timed = runner.leg(spark, f"local{CORES}", min_ops=workload.min_ops)
            runner.memory = None
        log(f"peak memory per operation, MB: {_q([kb / 1024 for kb in rss.op_peaks_kb])}")
        job_s = median(timed)
        if args.trace:
            layers.update(traced_layers(runner, session, work, timed))
            metrics = layers
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "docs_per_s": workload.docs_per_op() / job_s,
                "peak_rss_mb": rss.peak_mb,
            }
    finally:
        session.shutdown()

    log(
        f"attempted {runner.attempted} operations, "
        f"failed_ops_frac={runner.failed_ops / max(1, runner.attempted):.3f}"
    )
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": runner.failed_ops,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "ocr_platform_spark", "__init__.py")):
        log(f"no ocr_platform_spark package under {ROOT}; run from a full checkout")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
