"""Per-layer tracing for the traced benchmark run.

Two sources, both read from outside the engine:

- **Spans** wrap the public functions of each layer (patched in for the
  traced passes only, removed afterwards). A span records its name, layer,
  start, end and the span that caused it; spans stay in memory and are
  written out when the run ends. A layer's self time is its spans'
  duration minus the time covered by their child spans.
- **Spark counters**: Catalyst phase times from each execution's
  ``QueryExecution.tracker()`` (a ``QueryExecutionListener``), per-node SQL
  metrics and per-stage task metrics from the status stores (populated with
  the UI off), and per-batch streaming progress from a
  ``StreamingQueryListener``.

The two sources overlap: an entry's Catalyst analysis runs inside its derive
span, and stage execution inside its execute span, so span self times and
Spark counters are read side by side, never summed.

The unaccounted share of a traced pass is the part of its wall that neither
an engine-layer span (``ENGINE_LAYERS``) nor Spark-side work (a job, from
submission to completion, or a Catalyst phase) covers. The benchmark's own
catch-all spans (``queries``, around an entry's whole ``fn``, and ``exec``,
around its ``toPandas``) do not count as covered: what they hold beyond the
engine layers and Spark (the entry's own Python, the Arrow transfer and the
pandas conversion) is reported as ``queries.derive_ms`` and
``exec.collect_ms`` and stays in the unaccounted share.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """Collects spans and counts; thread-safe (foreachBatch writers run on
    the callback server's threads)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(name, layer, time.perf_counter(), 0.0, stack[-1] if stack else None)
            )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def wrap(self, fn, name: str, layer: str, on_call=None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if on_call is not None:
                on_call(args, out)
            return out

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str, layer: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper, and every module-level
        alias of the same function inside the engine's package (modules that
        did ``from x import fn``)."""
        import sys

        orig = getattr(owner, attr)
        wrapped = self.wrap(orig, name, layer, on_call)
        targets = [(owner, attr)]
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("velostream_spark") and mod is not owner:
                if getattr(mod, attr, None) is orig:
                    targets.append((mod, attr))
        for obj, a in targets:
            self._patches.append((obj, a, orig))
            setattr(obj, a, wrapped)

    def unpatch(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------

    def self_ms(self, t0: float, t1: float) -> dict[str, float]:
        """Self time per layer (ms) of the spans that started in [t0, t1]."""
        child_ms: dict[int, float] = defaultdict(float)
        picked = [
            (i, s) for i, s in enumerate(self.spans) if t0 <= s.start < t1 and s.end
        ]
        for _, s in picked:
            if s.parent is not None:
                child_ms[s.parent] += (s.end - s.start) * 1e3
        out: dict[str, float] = defaultdict(float)
        for i, s in picked:
            out[s.layer] += (s.end - s.start) * 1e3 - child_ms[i]
        return dict(out)

    def intervals(self, layers) -> list[tuple[float, float]]:
        """(start, end) of every finished span of ``layers``."""
        return [(s.start, s.end) for s in self.spans if s.layer in layers and s.end]

    def write(self, path: str) -> str:
        """Write every span as JSON (times in perf_counter seconds)."""
        with open(path, "w") as fh:
            json.dump([
                {"name": s.name, "layer": s.layer, "start": round(s.start, 6),
                 "end": round(s.end, 6), "parent": s.parent}
                for s in self.spans
            ], fh)
        return path


#: the engine's layers; their spans count as accounted wall time
ENGINE_LAYERS = ("sql.dialect", "sql.engine", "registry", "session", "streaming.runner")


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals inside [lo, hi]."""
    total, end = 0.0, lo
    for start, stop in sorted(intervals):
        a, b = max(start, end), min(stop, hi)
        if b > a:
            total += b - a
            end = b
    return total


def unaccounted_frac(tracer: Tracer, t0: float, t1: float, spark_intervals=()) -> float:
    """Share of [t0, t1] covered neither by an engine-layer span nor by one
    of ``spark_intervals`` ((start, end) on the ``perf_counter`` clock)."""
    covered = union_s(tracer.intervals(ENGINE_LAYERS) + list(spark_intervals), t0, t1)
    return max(0.0, 1.0 - covered / (t1 - t0))


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the public entry points of the engine's layers."""
    from velostream_spark import registry, session
    from velostream_spark.sql import dialect, engine
    from velostream_spark.streaming import runner

    built: set = set(registry._PLAN_MEMO)

    def on_memo(args, _out):
        spark, key = args[0], args[1]
        full = (spark.sparkContext.applicationId, *key)
        tracer.count("registry.memo_hits" if full in built else "registry.memo_builds")
        built.add(full)

    def on_spread(args, out):
        skipped = out is args[0]
        tracer.count("session.spread_skips" if skipped else "session.spread_repartitions")

    tracer.patch(dialect, "parse_statement", "parse_statement", "sql.dialect",
                 lambda a, o: tracer.count("sql.dialect.calls"))
    tracer.patch(engine.SqlEngine, "execute", "SqlEngine.execute", "sql.engine",
                 lambda a, o: tracer.count("sql.engine.calls"))
    tracer.patch(engine.SqlEngine, "execute_streaming", "SqlEngine.execute_streaming",
                 "sql.engine", lambda a, o: tracer.count("sql.engine.calls"))
    tracer.patch(engine, "_write_batch_idempotent", "changelog_write", "sql.engine")
    tracer.patch(registry, "memo_plan", "memo_plan", "registry", on_memo)
    tracer.patch(session, "spread", "spread", "session", on_spread)
    tracer.patch(runner, "run_available_now", "run_available_now", "streaming.runner")
    tracer.patch(runner, "run_foreach_batch", "run_foreach_batch", "streaming.runner")


# ---------------------------------------------------------------------------
# Spark counters


class PhaseListener:
    """``QueryExecutionListener`` (py4j callback): Catalyst phase times and
    (start, end) epoch-ms intervals of every completed batch execution. A
    plan executed again reports the same ``QueryExecution``, whose phases
    ran once, so each is counted once."""

    def __init__(self) -> None:
        self.phases: Counter[str] = Counter()
        self.intervals_ms: list[tuple[float, float]] = []
        self._seen: set[int] = set()

    def _add(self, qe) -> None:
        h = qe.hashCode()  # identity hash: QueryExecution keeps Object's
        if h not in self._seen:
            self._seen.add(h)
            self.intervals_ms.extend(add_phases(self.phases, qe))

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802, N803
        self._add(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802, N803
        self._add(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def add_phases(acc: Counter, qe) -> list[tuple[float, float]]:
    """Add the phase times of ``qe`` to ``acc``; return their intervals."""
    out = []
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phase = kv._2()
        acc[kv._1()] += phase.durationMs()
        out.append((phase.startTimeMs(), phase.endTimeMs()))
    return out


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress (``recentProgress`` holds only 100)."""

    def __init__(self) -> None:
        self.progress: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        with self._lock:
            self.progress.append(
                {
                    "name": p.name,
                    "batchId": p.batchId,
                    "timestamp": p.timestamp,
                    "durationMs": dict(p.durationMs),
                    "numInputRows": p.numInputRows,
                    "inputRowsPerSecond": p.inputRowsPerSecond,
                    "processedRowsPerSecond": p.processedRowsPerSecond,
                    "stateOperators": [
                        {
                            "numRowsTotal": s.numRowsTotal,
                            "memoryUsedBytes": s.memoryUsedBytes,
                            "commitTimeMs": s.commitTimeMs,
                            "numRowsDroppedByWatermark": s.numRowsDroppedByWatermark,
                            "numShufflePartitions": s.numShufflePartitions,
                            "numStateStoreInstances": s.numStateStoreInstances,
                        }
                        for s in p.stateOperators
                    ],
                }
            )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def take(self) -> list:
        with self._lock:
            out, self.progress = self.progress, []
        return out


_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_SCALE = {"": 1, "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric (``'1,234'``, ``'1.2 KiB'``,
    ``'total (min, med, max)\\n10 ms (1 ms, ...)'``) in bytes, ms or count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1)


#: plan nodes that run Python workers (ArrowEvalPython, MapInPandas,
#: FlatMapGroupsInPandasWithState, ...), and SQL metric display name →
#: per-layer counter
_PY_NODES = ("Python", "Pandas", "Arrow")
_NODE_METRICS = {
    "time to run Python workers": "pyworker.run_ms",
    "time to start Python workers": "pyworker.boot_ms",
    "time to initialize Python workers": "pyworker.init_ms",
    "data sent to Python workers": "pyworker.sent_bytes",
    "data returned from Python workers": "pyworker.received_bytes",
    "scan time": "exec.scan_ms",
}


class SparkCounters:
    """Deltas of the status stores between two ``snapshot`` calls."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.seen_exec = self._max_exec()
        self.seen_stage = self._max_stage()
        self.seen_job = self._max_job()
        self.job_intervals_ms: list[tuple[float, float]] = []

    def _max_exec(self) -> int:
        return int(self.sql_store.executionsCount())

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        return self.jsc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.Collections.emptyList(),
        )

    def _max_stage(self) -> int:
        stages = self._stages()
        return max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)

    def _max_job(self) -> int:
        jobs = self.jsc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def _job_intervals(self, after: int) -> list[tuple[float, float]]:
        """(submission, completion) epoch ms of the finished jobs with an id
        above ``after``."""
        jobs = self.jsc.statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub, done = j.submissionTime(), j.completionTime()
            if j.jobId() > after and sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime(), done.get().getTime()))
        return out

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def collect(self) -> Counter:
        """Counters of the executions and stages completed since the last
        call; the (start, end) epoch-ms intervals of their jobs are left in
        ``job_intervals_ms``."""
        self.drain()
        out: Counter[str] = Counter()
        n = int(self.sql_store.executionsCount())
        execs = self.sql_store.executionsList(self.seen_exec, n - self.seen_exec)
        self.seen_exec = n
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                is_py = any(k in name for k in _PY_NODES)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    mname = pm.name()
                    key = _NODE_METRICS.get(mname)
                    if mname == "number of output rows":
                        key = "pyworker.rows_received" if is_py else "exec.output_rows"
                    elif mname == "duration" and name.startswith("WholeStageCodegen"):
                        key = "exec.codegen_stage_ms"
                    if key is not None:
                        out[key] += parse_metric(v.get())
        stages = self._stages()
        top = self.seen_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.seen_stage:
                continue
            top = max(top, sid)
            out["exec.stages"] += 1
            out["exec.tasks"] += s.numTasks()
            out["exec.executor_run_ms"] += s.executorRunTime()
            out["exec.executor_cpu_ms"] += s.executorCpuTime() / 1e6
            out["exec.gc_ms"] += s.jvmGcTime()
            out["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["exec.peak_memory_bytes"] = max(
                out["exec.peak_memory_bytes"], s.peakExecutionMemory()
            )
            sub, first = s.submissionTime(), s.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                out["exec.task_wait_ms"] += first.get().getTime() - sub.get().getTime()
        self.seen_stage = top
        job_top = self._max_job()
        out["exec.jobs"] += job_top - self.seen_job
        self.job_intervals_ms = self._job_intervals(self.seen_job)
        self.seen_job = job_top
        return out


# ---------------------------------------------------------------------------
# Per-layer metrics of a traced run

_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
           "commitOffsets", "triggerExecution")
#: jobs whose micro-batches are reported: the run-to-completion entries
#: ("bounded") and the two continuous jobs of stream_live
BOUNDED_JOB = "bounded"
LIVE_JOBS = ("agg", "enrich")
_STATE_JOBS = (BOUNDED_JOB, "agg")

#: Every per-layer metric with its unit, in report order. A layer that does
#: no work on a workload reads 0 there (its control value).
LAYER_METRICS: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("session.tables_s", "s"),
    ("sql.dialect.parse_ms", "ms"),
    ("sql.dialect.calls", "count"),
    ("sql.engine.execute_ms", "ms"),
    ("sql.engine.calls", "count"),
    ("queries.derive_ms", "ms"),
    ("registry.memo_hits", "count"),
    ("registry.memo_builds", "count"),
    ("session.spread_repartitions", "count"),
    ("session.spread_skips", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_run_ms", "ms"),
    ("exec.executor_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"),
    ("exec.codegen_stage_ms", "ms"),
    ("exec.scan_ms", "ms"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.peak_memory_bytes", "bytes"),
    ("exec.output_rows", "count"),
    ("exec.task_wait_ms", "ms"),
    ("exec.collect_ms", "ms"),
    ("pyworker.run_ms", "ms"),
    ("pyworker.boot_ms", "ms"),
    ("pyworker.init_ms", "ms"),
    ("pyworker.sent_bytes", "bytes"),
    ("pyworker.received_bytes", "bytes"),
    ("pyworker.rows_received", "count"),
    ("streaming.runner.run_ms", "ms"),
    ("streaming.runner.shuffle_partitions", "count"),
    ("streaming.runner.state_store_instances", "count"),
]
LAYER_METRICS.append((f"streaming.{BOUNDED_JOB}.batches", "count"))
LAYER_METRICS.extend((f"streaming.{BOUNDED_JOB}.{p}_ms", "ms") for p in _PHASES)
LAYER_METRICS.extend([
    (f"streaming.{BOUNDED_JOB}.input_rows_per_s", "1/s"),
    (f"streaming.{BOUNDED_JOB}.processed_rows_per_s", "1/s"),
    (f"state.{BOUNDED_JOB}.rows_total", "count"),
    (f"state.{BOUNDED_JOB}.memory_bytes", "bytes"),
    (f"state.{BOUNDED_JOB}.commit_ms", "ms"),
    (f"state.{BOUNDED_JOB}.rows_dropped_late", "count"),
    ("trace.unaccounted_frac", "ratio"),
    ("trace.overhead_frac", "ratio"),
    ("baseline.local1_wait_s", "s"),
    ("baseline.localN_wait_s", "s"),
])

#: Per-layer metrics that only ``stream_live`` reports: micro-batch phases
#: per continuous job, the state store of ``agg`` (``enrich`` has none) and
#: the load generator.
LIVE_LAYER_METRICS: list[tuple[str, str]] = []
for _job in LIVE_JOBS:
    LIVE_LAYER_METRICS.append((f"streaming.{_job}.batches", "count"))
    LIVE_LAYER_METRICS.extend((f"streaming.{_job}.{p}_ms", "ms") for p in _PHASES)
    LIVE_LAYER_METRICS.extend([
        (f"streaming.{_job}.input_rows_per_s", "1/s"),
        (f"streaming.{_job}.processed_rows_per_s", "1/s"),
        (f"streaming.{_job}.idle_ms", "ms"),
        (f"streaming.{_job}.backlog_files_max", "count"),
    ])
LIVE_LAYER_METRICS.extend([
    ("state.agg.rows_total", "count"),
    ("state.agg.memory_bytes", "bytes"),
    ("state.agg.commit_ms", "ms"),
    ("state.agg.rows_dropped_late", "count"),
    ("gen.files", "count"),
    ("gen.rows", "count"),
    ("gen.late_max_ms", "ms"),
])

#: metrics that keep their maximum over traced passes instead of a mean
_PEAKS = {"exec.peak_memory_bytes", "gen.late_max_ms"} | {
    m for m, _ in LAYER_METRICS + LIVE_LAYER_METRICS
    if m.endswith(("rows_total", "memory_bytes", "backlog_files_max"))
}


class LayerAcc:
    """Per-layer figures over the traced passes: sums (reported per pass)
    and peaks."""

    def __init__(self) -> None:
        self.sums: Counter[str] = Counter()
        self.passes = 0

    def add(self, key: str, v: float) -> None:
        if key in _PEAKS:
            self.sums[key] = max(self.sums[key], v)
        else:
            self.sums[key] += v

    def add_all(self, values) -> None:
        for k, v in values.items():
            self.add(k, v)


def progress_layers(events: list, job: str, acc: LayerAcc) -> None:
    """Fold micro-batch progress events of one job into ``acc``."""
    if not events:
        return
    rows = sum(e["numInputRows"] for e in events)
    trigger_ms = sum(e["durationMs"].get("triggerExecution", 0) for e in events)
    acc.add(f"streaming.{job}.batches", len(events))
    for p in _PHASES:
        acc.add(f"streaming.{job}.{p}_ms", sum(e["durationMs"].get(p, 0) for e in events))
    acc.add(f"streaming.{job}.input_rows_per_s",
            statistics.median(e["inputRowsPerSecond"] or 0.0 for e in events))
    acc.add(f"streaming.{job}.processed_rows_per_s",
            rows / (trigger_ms / 1e3) if trigger_ms else 0.0)
    if job not in _STATE_JOBS:
        return
    by_query: dict[str, list] = defaultdict(list)
    for e in events:
        by_query[e["name"]].append(e)
    for evs in by_query.values():
        ops = [s for e in evs for s in e["stateOperators"]]
        if not ops:
            continue
        acc.add(f"state.{job}.rows_total", max(s["numRowsTotal"] for s in ops))
        acc.add(f"state.{job}.memory_bytes", max(s["memoryUsedBytes"] for s in ops))
        acc.add(f"state.{job}.commit_ms", sum(s["commitTimeMs"] for s in ops))
        acc.add(f"state.{job}.rows_dropped_late",
                sum(s["numRowsDroppedByWatermark"] for s in ops))
        if job == BOUNDED_JOB:
            acc.add("streaming.runner.shuffle_partitions",
                    max(s["numShufflePartitions"] for s in ops))
            acc.add("streaming.runner.state_store_instances",
                    max(s["numStateStoreInstances"] for s in ops))


def span_layers(tracer: Tracer, t0: float, t1: float, acc: LayerAcc) -> None:
    """Fold span self times of [t0, t1] into ``acc``."""
    self_ms = tracer.self_ms(t0, t1)
    acc.add("sql.dialect.parse_ms", self_ms.get("sql.dialect", 0.0))
    acc.add("sql.engine.execute_ms", self_ms.get("sql.engine", 0.0))
    acc.add("queries.derive_ms", self_ms.get("queries", 0.0))
    acc.add("exec.collect_ms", self_ms.get("exec", 0.0))
    acc.add("streaming.runner.run_ms", self_ms.get("streaming.runner", 0.0))


class Tracing:
    """Traced passes of a closed-loop workload: spans patched in, listeners
    attached and status-store deltas read for the pass only."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.tracer = Tracer()
        self.counters = SparkCounters(spark)
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phases = PhaseListener()
        spark._jsparkSession.listenerManager().register(self.phases)
        self.progress = ProgressListener()

    def begin(self) -> None:
        self.counters.collect()
        self._phase_base = Counter(self.phases.phases)
        self.phases.intervals_ms.clear()
        self.tracer.counts.clear()
        install_layer_spans(self.tracer)
        self.spark.streams.addListener(self.progress)
        # epoch ms (Spark's clock) → perf_counter seconds (the spans' clock)
        self._offset_s = time.perf_counter() - time.time()

    def end(self, t0: float, t1: float, acc: LayerAcc) -> None:
        self.tracer.unpatch()
        self.spark.streams.removeListener(self.progress)
        acc.add_all(self.counters.collect())  # drains the listener bus
        spark_ms = self.counters.job_intervals_ms + self.phases.intervals_ms
        spark_s = [(a / 1e3 + self._offset_s, b / 1e3 + self._offset_s)
                   for a, b in spark_ms]
        acc.add("trace.unaccounted_frac", unaccounted_frac(self.tracer, t0, t1, spark_s))
        phases = Counter(self.phases.phases)
        phases.subtract(self._phase_base)
        for p in ("analysis", "optimization", "planning"):
            acc.add(f"catalyst.{p}_ms", phases.get(p, 0))
        for k in ("sql.dialect.calls", "sql.engine.calls", "registry.memo_hits",
                  "registry.memo_builds", "session.spread_repartitions",
                  "session.spread_skips"):
            acc.add(k, self.tracer.counts.get(k, 0))
        progress_layers(self.progress.take(), BOUNDED_JOB, acc)
        span_layers(self.tracer, t0, t1, acc)
        acc.passes += 1

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.phases)


def layer_metrics(acc: LayerAcc, overhead: float, start_s: float, tables_s: float,
                  live: bool = False) -> dict[str, tuple[float, str]]:
    """Every per-layer metric (with ``live``, the stream_live ones too):
    sums per traced pass, peaks as measured, absent layers as 0."""
    n = max(1, acc.passes)
    out = {}
    for name, unit in LAYER_METRICS + (LIVE_LAYER_METRICS if live else []):
        v = acc.sums.get(name, 0.0)
        out[name] = (v if name in _PEAKS else v / n, unit)
    out["session.start_s"] = (start_s, "s")
    out["session.tables_s"] = (tables_s, "s")
    out["trace.overhead_frac"] = (overhead, "ratio")
    return out
