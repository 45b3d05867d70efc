"""Per-layer measurement from outside the program.

* ``Tracer`` keeps spans in memory: op -> build / exec -> each wrapped
  ``operators/ann_index`` call, all sharing the op id.
* ``SparkStores`` reads Spark's in-process status stores (jobs, stages,
  SQL plan metrics) for the jobs and SQL executions an op started.
* ``wrap_ann_index`` installs timing wrappers around the public
  functions of ``operators/ann_index``.
* ``stream_listener`` counts micro-batches through a
  ``StreamingQueryListener``.
* ``index_shape`` walks an index directory after an op.
* ``RssSampler`` samples resident memory of processes in the background.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field

# operators/ann_index public functions, grouped into the layer's phases
ANN_INDEX_PHASES = {
    "ensure": ("ensure_ivf_index", "ensure_pq_index", "ensure_ivfpq_index", "ensure_dedup_index"),
    "append": ("ivf_index_append", "pq_index_append", "ivfpq_index_append", "dedup_index_append"),
    "compact": ("compact_index", "minor_compact_index"),
    "retract": ("retract_batch",),
    "clone": ("clone_index",),
    "search_build": ("ivf_index_search", "pq_index_search", "ivfpq_index_search", "dedup_index_check"),
}


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    t0: float
    t1: float = 0.0
    jobs: int = 0
    attrs: dict = field(default_factory=dict)


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that child spans cover (the
    union of the children's intervals, clipped to the span)."""
    ivs = sorted((max(c.t0, span.t0), min(c.t1, span.t1)) for c in children)
    covered, end = 0.0, span.t0
    for a, b in ivs:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return (span.t1 - span.t0) - covered


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        # returns the id the next Spark job will get; set once a session runs
        self.job_counter = lambda: 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_span: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str, op: int | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        with self._lock:
            span = Span(
                id=len(self.spans),
                parent=parent.id if parent else None,
                op=op if op is not None else (parent.op if parent else -1),
                name=name,
                t0=time.perf_counter(),
            )
            self.spans.append(span)
        span.attrs["jobs0"] = self.job_counter()
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        span.jobs = self.job_counter() - span.attrs.pop("jobs0")
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def close(self, span: Span) -> None:
        """End ``span`` and every span still open above it (an op that
        raised leaves its build or exec span open)."""
        stack = self._stack()
        while stack and stack[-1] is not span:
            self.end(stack[-1])
        self.end(span)

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def dump(self, path: str) -> None:
        kids = self.children()
        rows = []
        for s in self.spans:
            ch = kids.get(s.id, [])
            rows.append(
                {
                    "id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                    "start_s": s.t0, "end_s": s.t1,
                    "self_s": self_time(s, ch),
                    "jobs": s.jobs,
                    "self_jobs": s.jobs - sum(c.jobs for c in ch),
                    **s.attrs,
                }
            )
        with open(path, "w") as f:
            json.dump(rows, f)


def wrap_ann_index(module, tracer: Tracer, touched: set[str]) -> None:
    """Replace each public ``operators/ann_index`` function with a
    wrapper that records a span named ``ann_index.<phase>`` and notes
    the index directories it touched."""
    for phase, names in ANN_INDEX_PHASES.items():
        for fname in names:
            fn = getattr(module, fname, None)
            if fn is None:
                continue

            def wrapper(*args, __fn=fn, __phase=phase, **kwargs):
                span = tracer.start(f"ann_index.{__phase}")
                span.attrs["fn"] = __fn.__name__
                try:
                    result = __fn(*args, **kwargs)
                finally:
                    tracer.end(span)
                for v in (*args, result):
                    if isinstance(v, str) and os.path.isdir(v):
                        touched.add(v)
                return result

            setattr(module, fname, functools.wraps(fn)(wrapper))


def index_shape(index_dir: str) -> dict | None:
    """Files, bytes and manifest size of one index directory, and its
    indexed row count from the manifest."""
    meta_path = os.path.join(index_dir, "_meta.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        manifest_bytes = os.path.getsize(meta_path)
    except (OSError, ValueError):
        return None
    files = nbytes = 0
    for root, _dirs, names in os.walk(index_dir):
        for n in names:
            try:
                nbytes += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    rows = int(meta.get("base_rows") or 0) + int(meta.get("appended_rows") or 0)
    return {"files": files, "bytes": nbytes, "manifest_bytes": manifest_bytes, "rows": rows}


_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str) -> float:
    """Spark SQL metric strings, e.g. ``"520 ms"``, ``"189.1 KiB"`` or
    ``"total (min, med, max ...)\\n12.5 s (3.0 s, ...)"``, in seconds
    or bytes; plain counts come back as numbers."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class SparkStores:
    """Reads Spark's status stores; the UI stays disabled."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = self._sql.executionsCount()

    def next_job_id(self) -> int:
        """Id the next submitted job will get: jobs are numbered in
        submission order, so an interval's jobs are a range of ids."""
        return int(self._dag.nextJobId())

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def job_metrics(self, first: int, end: int) -> dict:
        """Stage and task totals for jobs ``first <= id < end``."""
        from py4j.protocol import Py4JJavaError

        store = self._jsc.statusStore()
        out = dict(stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                   jvm_gc_s=0.0, shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        seen: set[int] = set()
        for jid in range(first, end):
            try:
                sids = store.job(jid).stageIds()
            except Py4JJavaError:  # NoSuchElementException: evicted or never posted
                continue
            for i in range(sids.length()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["jvm_gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return out

    def sql_metrics(self) -> dict:
        """Scan and Python-worker metrics of the SQL executions that
        started since the previous call."""
        out = dict(scan_mb=0.0, scan_files=0.0, python_s=0.0, to_python_mb=0.0, from_python_mb=0.0)
        count = self._sql.executionsCount()
        new = self._sql.executionsList(self._seen_exec, max(count - self._seen_exec, 0))
        self._seen_exec = count
        for i in range(new.length()):
            eid = new.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.length()):
                ms = nodes.apply(k).metrics()
                for q in range(ms.length()):
                    m = ms.apply(q)
                    key = _SQL_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get()) / _SQL_SCALE[key]
        return out


_SQL_METRICS = {
    "size of files read": "scan_mb",
    "number of files read": "scan_files",
    "time to run Python workers": "python_s",
    "data sent to Python workers": "to_python_mb",
    "data returned from Python workers": "from_python_mb",
}
_SQL_SCALE = {"scan_mb": 2**20, "scan_files": 1, "python_s": 1,
              "to_python_mb": 2**20, "from_python_mb": 2**20}


def stream_listener(counts: dict):
    """A StreamingQueryListener adding each micro-batch's phase times
    (``durationMs``) into ``counts``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            d = event.progress.durationMs
            counts["batches"] += 1
            counts["trigger_s"] += d.get("triggerExecution", 0) / 1e3
            counts["add_batch_s"] += d.get("addBatch", 0) / 1e3

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Pids of every process below ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssSampler(threading.Thread):
    """Peak RSS of the driver JVM and of the largest Python worker below
    it, sampled every ``interval`` seconds."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        super().__init__(daemon=True)
        self.jvm_pid, self.interval = jvm_pid, interval
        self.driver_peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        n = 0
        worker_pids: list[int] = []
        while not self._stop_evt.is_set():
            self.driver_peak_mb = max(self.driver_peak_mb, _rss_mb(self.jvm_pid))
            if n % 20 == 0:
                worker_pids = descendants(self.jvm_pid)
            for p in worker_pids:
                self.worker_peak_mb = max(self.worker_peak_mb, _rss_mb(p))
            n += 1
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
