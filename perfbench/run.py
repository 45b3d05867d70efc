"""Benchmark harness for the PySpark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 30 --trace 0

One process, one client, closed loop, on ``local[nproc]`` over the
sf0.01 tables in ``perfbench/data``. An op is one
``registry.QUERIES[name](spark, sf_dir)`` call (building the DataFrame)
followed by ``toPandas()``, which executes it and brings the result to
the driver, so the output check needs no second execution.

Set-up ends before the first timed op: the session and JVM, then a JIT
warm-up for ``analytics``, or for ``index_maintenance`` the
Python-worker and Arrow-kernel warm-up and the builds of the persisted
base indexes. The timed window runs whole passes over the workload's
ops, each in an order drawn from ``--seed``, until ``--seconds`` have
passed and the workload's fewest passes (``MIN_PASSES``) are done.
Afterwards every op's result is hashed and compared with its DuckDB
oracle (``oracles.py``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics (see ``tracing.py``) and writes the spans to
``perfbench/out/``. The last stdout line is the result JSON; the line
before it describes the run (pinned environment, sample counts).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
DRIVER_MEM = "1g"

sys.path.insert(0, str(HERE))

import oracles  # noqa: E402
import tracing  # noqa: E402
from workloads import BUILDS_INDEXES, MIN_PASSES, WORKLOADS, check_registered, pass_order  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "driver_heap_live_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_env(work: Path) -> dict[str, str]:
    """Fix every variable the program reads and give the run a private
    temporary directory; returns the program's resulting settings."""
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "BDFP_")):
            del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_SF_DIR"] = str(DATA)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(work)
    # every JVM, the launcher included, keeps its temporary files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    tempfile.tempdir = None
    return {
        k: v for k, v in sorted(os.environ.items())
        if k.startswith(("SPARK_GRAFT_", "BDFP_"))
        or k in ("TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")
    }


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile (0 < q < 1): a mean
    of all order statistics, weighted by a Beta(q(n+1), (1-q)(n+1))
    density. Unlike the sample median it does not jump across a gap
    between two neighbouring latencies. The weights are integrated
    with the midpoint rule, 64 points per order statistic."""
    steps = 64
    x = sorted(values)
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    weights = []
    for i in range(n):
        ts = ((i + (j + 0.5) / steps) / n for j in range(steps))
        weights.append(sum(math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t)) for t in ts))
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least 10 of ``n`` samples
    above it; None with 10 or fewer samples, where none has."""
    for p in range(100, -1, -1):
        if n - 1 - (n - 1) * p // 100 >= 10:
            return p
    return None


def query_stats(latencies: dict[str, list[float]]) -> tuple[float, float, str]:
    """``query_p50_s``, ``query_tail_s`` and how the tail was taken.

    The p50 is the median over ops of each op's median latency (with one
    sample per op, the median of all samples). The tail is the highest
    percentile of all samples with at least 10 samples above it; with
    10 or fewer samples no percentile has, and the tail is the slowest
    op's median, so that it never rests on one sample. Both quantiles
    are Harrell-Davis estimates. Failed ops (NaN) are left out.
    """
    ok = {n: [x for x in v if not math.isnan(x)] for n, v in latencies.items()}
    per_op = [statistics.median(v) for v in ok.values() if v]
    pooled = [x for v in ok.values() for x in v]
    if not pooled:
        return float("nan"), float("nan"), "no samples"
    p = tail_percentile(len(pooled))
    if p is None:
        return quantile(per_op, 0.5), max(per_op), f"slowest op median, n={len(pooled)}"
    return quantile(per_op, 0.5), quantile(pooled, p / 100), f"p{p}, n={len(pooled)}"


def cpu_steal_s() -> float:
    """Host CPU time stolen from this machine so far (``/proc/stat``),
    to tell a slow host from a slow program."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


# Registered queries outside every workload, run once during the set-up
# of `analytics` so that the JVM's JIT has compiled the common scan,
# join, aggregate and window paths before the first timed op (otherwise
# whichever ops the seed puts first pay it, up to +1 s each). For
# `index_maintenance` the base-index builds do the same. The timed
# analytics pass is still each op's first run in the session, which
# compiles its generated code: a second pass runs about 25% faster, but
# an untimed full pass would cost 35 s of set-up on every run.
JIT_WARM_UP = (
    "popular_parts",
    "star_join_revenue_by_nation",
    "top_orders_by_revenue",
    "rollup_revenue",
    "window_analytics",
    "segment_rollup_top5",
)


def warm_jit(spark, sf_dir: str) -> None:
    from bigdatafinalproject_spark import registry

    for name in JIT_WARM_UP:
        registry.QUERIES[name](spark, sf_dir).toPandas()


def warm_workers(spark) -> None:
    """The worker warm-up of bench.py: ship the package first, then
    start the Python worker pool with the Arrow kernel module imported.
    Only `index_maintenance` runs Python workers."""
    from bigdatafinalproject_spark.operators import arrow_kernels as ak

    ak.ensure_shipped(spark)

    def _warm_kernels(it):
        ak.seq_dot  # noqa: B018 -- resolving it imports the kernels in the worker
        yield from it

    parts = spark.sparkContext.defaultParallelism
    spark.range(10_000).repartition(parts).mapInArrow(_warm_kernels, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


class _BaseIndexReady(Exception):
    pass


def build_base_indexes(spark, ops: list[str], sf_dir: str) -> None:
    """Run each op up to the point where it clones its base index: the
    op's own ``ensure_*`` call builds (and persists) the base index,
    and nothing after it runs."""
    from bigdatafinalproject_spark import registry
    from bigdatafinalproject_spark.operators import ann_index

    def _stop(*_args, **_kwargs):
        raise _BaseIndexReady

    clone = ann_index.clone_index
    ann_index.clone_index = _stop
    try:
        for name in ops:
            try:
                registry.QUERIES[name](spark, sf_dir)
            except _BaseIndexReady:
                continue
            raise RuntimeError(f"{name} did not clone a base index")
    finally:
        ann_index.clone_index = clone


class Layers:
    """Per-layer totals of a traced run."""

    def __init__(self, spark, tracer: tracing.Tracer, touched: set[str]):
        self.stores = tracing.SparkStores(spark)
        self.tracer = tracer
        self.touched = touched
        self.stream = {"batches": 0, "trigger_s": 0.0, "add_batch_s": 0.0}
        spark.streams.addListener(tracing.stream_listener(self.stream))
        self.spark_totals: dict[str, float] = {}
        self.shapes: list[dict] = []
        self.op_jobs: list[tuple[str, int, int]] = []
        self.bookkeeping_s = 0.0

    def reset(self) -> None:
        """Forget what set-up recorded."""
        self.stores.drain()
        self.stores.sql_metrics()
        self.tracer.spans.clear()
        self.touched.clear()
        for k in self.stream:
            self.stream[k] = 0

    def after_op(self, name: str, op: tracing.Span, build: tracing.Span) -> None:
        t0 = time.perf_counter()
        first = op.attrs["first_job"]
        self.stores.drain()
        for k, v in self.stores.job_metrics(first, first + op.jobs).items():
            self.spark_totals[k] = self.spark_totals.get(k, 0.0) + v
        for k, v in self.stores.sql_metrics().items():
            self.spark_totals[k] = self.spark_totals.get(k, 0.0) + v
        for d in sorted(self.touched):
            shape = tracing.index_shape(d)
            if shape:
                self.shapes.append(shape)
        self.touched.clear()
        self.op_jobs.append((name, build.jobs, op.jobs))
        self.bookkeeping_s += time.perf_counter() - t0

    def metrics(self, passes: int, exec_s: float, rss: tracing.RssSampler, run_s: float) -> dict:
        kids = self.tracer.children()
        build_spans = [s for s in self.tracer.spans if s.name == "build"]
        build_s = sum(s.t1 - s.t0 for s in build_spans)
        m: dict[str, tuple[float, str]] = {
            "queries.build_s": (build_s / passes, "s"),
            "queries.build_jobs": (sum(s.jobs for s in build_spans) / passes, "count"),
            "queries.build_share": (build_s / (build_s + exec_s), "ratio"),
            "spark.exec_s": (exec_s / passes, "s"),
            "spark.jobs": (sum(j for _n, _b, j in self.op_jobs) / passes, "count"),
        }
        units = {"stages": "count", "tasks": "count", "scan_files": "count"}
        for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "scan_mb", "scan_files"):
            m[f"spark.{k}"] = (self.spark_totals.get(k, 0.0) / passes,
                               units.get(k, "s" if k.endswith("_s") else "MB"))
        for k in ("python_s", "to_python_mb", "from_python_mb"):
            m[f"arrow_kernels.{k}"] = (self.spark_totals.get(k, 0.0) / passes,
                                       "s" if k.endswith("_s") else "MB")
        m["spark.driver_rss_peak_mb"] = (rss.driver_peak_mb, "MB")
        m["arrow_kernels.worker_rss_peak_mb"] = (rss.worker_peak_mb, "MB")
        for phase in tracing.ANN_INDEX_PHASES:
            spans = [s for s in self.tracer.spans if s.name == f"ann_index.{phase}"]
            self_s = sum(tracing.self_time(s, kids.get(s.id, [])) for s in spans)
            self_jobs = sum(s.jobs - sum(c.jobs for c in kids.get(s.id, [])) for s in spans)
            m[f"ann_index.{phase}_s"] = (self_s / passes, "s")
            m[f"ann_index.{phase}_s.calls"] = (len(spans) / passes, "count")
            m[f"ann_index.{phase}_s.jobs"] = (self_jobs / passes, "count")

        def med(key):
            vals = [s[key] for s in self.shapes]
            return statistics.median(vals) if vals else 0.0

        per_row = [s["bytes"] / s["rows"] for s in self.shapes if s["rows"]]
        m["ann_index.bytes_written_per_row"] = (statistics.median(per_row) if per_row else 0.0, "B")
        m["ann_index.files_per_index"] = (med("files"), "count")
        m["ann_index.manifest_kb"] = (med("manifest_bytes") / 1024, "KB")
        m["streaming.batches"] = (self.stream["batches"] / passes, "count")
        m["streaming.trigger_s"] = (self.stream["trigger_s"] / passes, "s")
        m["streaming.add_batch_s"] = (self.stream["add_batch_s"] / passes, "s")
        m["trace.run_s"] = (run_s, "s")
        m["trace.bookkeeping_s"] = (self.bookkeeping_s / passes, "s")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args: argparse.Namespace, env_echo: dict) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    sf_dir = str(DATA)
    tracer = touched = None
    if args.trace:
        # wrap before the query modules import (and bind) the functions
        from bigdatafinalproject_spark.operators import ann_index

        tracer = tracing.Tracer()
        touched = set()
        tracing.wrap_ann_index(ann_index, tracer, touched)

    from bigdatafinalproject_spark import registry
    from bigdatafinalproject_spark.session import get_spark

    ops = check_registered(WORKLOADS[args.workload], set(registry.QUERIES))
    no_oracle = [n for n in ops if n not in registry.ORACLES]
    if no_oracle:
        raise LookupError(f"queries without an oracle: {', '.join(no_oracle)}")
    stored = oracles.load()

    spark = get_spark(app_name="perfbench")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    layers = None
    try:
        if args.trace:
            layers = Layers(spark, tracer, touched)
            tracer.job_counter = layers.stores.next_job_id
        if args.workload in BUILDS_INDEXES:
            warm_workers(spark)
            build_base_indexes(spark, ops, sf_dir)
        else:
            warm_jit(spark, sf_dir)
        if layers:
            layers.reset()
        setup_s = time.perf_counter() - T_START

        rng = random.Random(args.seed)
        if args.trace:
            sampler = tracing.RssSampler(jvm_pid)
            sampler.start()
        latencies: dict[str, list[float]] = {n: [] for n in ops}
        errors: dict[str, str] = {}
        results: list[tuple[str, object]] = []
        pass_s: list[float] = []
        exec_s = 0.0
        op_id = 0
        steal0 = cpu_steal_s()
        t_run = time.perf_counter()
        while len(pass_s) < MIN_PASSES[args.workload] or time.perf_counter() - t_run < args.seconds:
            t_pass = time.perf_counter()
            for name in pass_order(ops, rng):
                if tracer:
                    op_span = tracer.start(f"op:{name}", op=op_id)
                    op_span.attrs["first_job"] = layers.stores.next_job_id()
                    tracer.op_span = op_span
                    build = tracer.start("build")
                t0 = time.perf_counter()
                try:
                    df = registry.QUERIES[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    if tracer:
                        tracer.end(build)
                        ex = tracer.start("exec")
                    pdf = df.toPandas()
                    t2 = time.perf_counter()
                    if tracer:
                        tracer.end(ex)
                    latencies[name].append(t2 - t0)
                    exec_s += t2 - t1
                    results.append((name, pdf))
                except Exception as e:  # counted against ops attempted
                    if name not in errors:
                        traceback.print_exc()
                        errors[name] = f"{type(e).__name__}: {e}"[:500]
                    latencies[name].append(float("nan"))
                if tracer:
                    tracer.close(op_span)
                    tracer.op_span = None
                    layers.after_op(name, op_span, build)
                op_id += 1
            pass_s.append(time.perf_counter() - t_pass)
        steal_s = cpu_steal_s() - steal0
        if args.trace:
            sampler.stop()
        heap_live_mb = live_heap_mb(spark)

    finally:
        stop_spark(spark, jvm_pid)

    # output check, outside the timed window: every op's result
    mismatched: dict[str, str] = {}
    wrong = 0
    want = {n: oracles.expected(n, registry.ORACLES[n], sf_dir, stored) for n in ops}
    for name, pdf in results:
        got = oracles.frame_hash(pdf)
        if got != want[name]:
            wrong += 1
            mismatched.setdefault(name, f"got {got[1]} rows {got[0]}, oracle {want[name][1]} rows {want[name][0]}")
    attempted = sum(len(v) for v in latencies.values())
    failed = wrong + sum(math.isnan(x) for v in latencies.values() for x in v)
    passes = len(pass_s)
    run_s = statistics.median(pass_s)
    query_p50_s, query_tail_s, tail_rule = query_stats(latencies)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env_echo,
        "sf_dir": str(DATA.relative_to(ROOT)),
        "passes": passes,
        "pass_s": pass_s,
        "cpu_steal_s": steal_s,
        "query_tail": tail_rule,
        "per_op_s": {n: statistics.median(v) for n, v in latencies.items() if v},
        "errors": errors,
        "oracle_mismatches": mismatched,
    }
    if args.trace:
        metrics = layers.metrics(passes, exec_s, sampler, run_s)
        detail["per_op_jobs"] = layers.op_jobs[: len(ops)]
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        spans_path = out / f"spans-{args.workload}-{args.seed}.json"
        tracer.dump(str(spans_path))
        detail["spans"] = str(spans_path.relative_to(ROOT))
    else:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "query_p50_s": query_p50_s,
            "query_tail_s": query_tail_s,
            "driver_heap_live_mb": heap_live_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def live_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection: what the
    program keeps alive (cached data, broadcasts, Spark's job and stage
    records), not how far the collector let garbage pile up.

    Python's collector runs first, so that JVM objects held only by dead
    Python proxies are released. Spark's cleaner thread drops the blocks
    of collected shuffles and broadcasts over the next seconds, so the
    JVM collects every half second until the heap has held within 1 MB
    for four collections in a row. A single collection read up to 55%
    high, by however much the cleaner had not yet dropped."""
    gc.collect()
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(40):
        mem.gc()
        readings.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 4 and max(readings[-4:]) - min(readings[-4:]) < 1.0:
            break
        time.sleep(0.5)
    return readings[-1]


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, the Py4J gateway and the JVM, and wait until
    the JVM and every process below it have ended."""
    from pyspark import SparkContext

    pids = [jvm_pid, *tracing.descendants(jvm_pid)]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def main() -> int:
    args = parse_args()
    if not (ROOT / "bigdatafinalproject_spark" / "registry.py").is_file():
        print(f"perfbench: no bigdatafinalproject_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not (DATA / "lineitem.parquet").is_file():
        print(f"perfbench: benchmark data missing under {DATA}", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    try:
        env_echo = pin_env(work)
        detail, result = run(args, env_echo)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # operators/arrow_kernels writes the package zip it ships to the
        # workers to /tmp, not to the temporary directory, and keeps it
        Path(f"/tmp/bdfp_pkg_{os.getpid()}.zip").unlink(missing_ok=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
