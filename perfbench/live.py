"""The ``stream_live`` workload: an open loop of two continuous jobs.

A separate generator process (``livegen.py``) writes one parquet file per
100 ms tick at a fixed event rate, 5K events/s. The rate is chosen so the
latency shows the micro-batch floor, not the host's load: on four shared
cores the agg p50 stayed at 0.54-0.77 s at 2K and 5K events/s; at 20K
events/s it was 0.75-0.85 s on a quiet host but rose to 1.26-1.47 s, with
10-24% of events past the 2 s limit, when other tenants took 10-14% of the
CPU (steal). Two jobs are deployed from SQL text with
``SqlEngine.execute_streaming(sql, wait=False)`` on that source directory:

- ``agg``: a 1-second tumbling ``GROUP BY symbol ... EMIT CHANGES`` carrying
  ``MAX(gen_ms)``, through the state store and the engine's foreachBatch
  changelog file sink (``b<id>/`` directories);
- ``enrich``: a stateless filter/projection to Spark's native file sink.

Latency is emission time minus the creation time of the newest contributing
event. Emission is when a batch becomes visible in the sink: the ``_SUCCESS``
marker of ``b<id>/`` (written just before the directory is renamed into
place) or the ``_spark_metadata/<id>`` commit. Part files of the native sink
are attributed to the first commit that lists them. Events of the warm-up
window are excluded. Everything is computed after the run from the files,
so the timed window carries no measurement code.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from checks import corrupt_first_row, duck
from stats import median, percentile
from tests.oracle import compare_frames
from layertrace import (LIVE_JOBS, LayerAcc, ProgressListener, SparkCounters,
                        Tracer, layer_metrics, progress_layers, union_s)
from workloads import Result

HERE = os.path.dirname(os.path.abspath(__file__))

RATE = 5_000           # events per second
WATERMARK = "2 seconds"  # above livegen.OOO_MS, so no event is dropped
WARMUP_S = 10.0        # after deploy (JIT warm-up), excluded from every figure
LIMIT_MS = 2000        # latency limit for live_missed_frac
GEN_LATE_LIMIT_MS = 1000  # a generator later than this invalidates the run
DEPLOY_REPEATS = 3     # agg deploys timed for setup_s (two are throwaway)
SMOKE_RATE = 2_000

AGG_SQL = (
    "CREATE STREAM {name} AS SELECT TUMBLE_START() AS window_start, symbol, "
    "COUNT(*) AS n, SUM(qty) AS qty, SUM(px * qty) AS notional, "
    "MAX(gen_ms) AS max_gen_ms "
    "FROM {src} GROUP BY symbol WINDOW TUMBLING(INTERVAL '1' SECOND) EMIT CHANGES "
    "WITH ('{src}.type' = 'file_source', '{src}.path' = '{path}', "
    "'{src}.format' = 'parquet', '{src}.watermark.delay' = '" + WATERMARK + "', "
    "'{name}.type' = 'file_sink', '{name}.format' = 'parquet', "
    "'{name}.path' = '{out}')"
)
ENRICH_SQL = (
    "CREATE STREAM {name} AS SELECT symbol, px, qty, px * qty AS notional, "
    "event_ts, gen_ms FROM {src} WHERE qty >= 10 "
    "WITH ('{src}.type' = 'file_source', '{src}.path' = '{path}', "
    "'{src}.format' = 'parquet', "
    "'{name}.type' = 'file_sink', '{name}.format' = 'parquet', "
    "'{name}.path' = '{out}')"
)

AGG_ORACLE = """
SELECT CAST(floor(epoch_ms(event_ts) / 1000) * 1000 AS BIGINT) AS window_start,
       symbol, COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS qty,
       CAST(SUM(px * qty) AS BIGINT) AS notional, MAX(gen_ms) AS max_gen_ms
FROM read_parquet('{src}/*.parquet') GROUP BY 1, 2
"""
ENRICH_ORACLE = """
SELECT symbol, px, qty, px * qty AS notional, event_ts, gen_ms
FROM read_parquet('{src}/*.parquet') WHERE qty >= 10
"""


def _mtime_ms(path: str) -> float:
    return os.stat(path).st_mtime_ns / 1e6


def _source_batches(ckpt: str) -> dict[str, int]:
    """Source file name → the micro-batch that consumed it (FileStreamSource
    log; compacted log files repeat earlier entries with their batch id)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                name = os.path.basename(e["path"])
                out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def _agg_emissions(out: str) -> dict[int, float]:
    res = {}
    for d in glob.glob(os.path.join(out, "b*")):
        ok = os.path.join(d, "_SUCCESS")
        if os.path.exists(ok):
            res[int(os.path.basename(d)[1:])] = _mtime_ms(ok)
    return res


def _native_commits(out: str) -> tuple[dict[int, float], dict[str, int]]:
    """Batch id → commit time, and part file → first batch listing it."""
    emit: dict[int, float] = {}
    first: dict[str, int] = {}
    meta = os.path.join(out, "_spark_metadata")
    for path in glob.glob(os.path.join(meta, "*")):
        base = os.path.basename(path)
        if base.startswith("."):
            continue
        bid = int(base.split(".")[0])
        emit[bid] = _mtime_ms(path)
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    name = os.path.basename(json.loads(line)["path"])
                    first[name] = min(first.get(name, bid), bid)
    return emit, first


def _read_gen_log(path: str) -> list[dict]:
    out = []
    with open(path) as fh:
        for line in fh:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:  # a line cut by the stop signal
                break
    return out


def _epoch_ms(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso).timestamp() * 1e3


class _LiveTracing:
    """Tracing of the second half of the window: spans on the changelog
    writer, micro-batch progress per job and status-store deltas."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        from velostream_spark.sql import engine

        self.spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.tracer = Tracer()
        self.counters = SparkCounters(spark)
        self.progress = ProgressListener()
        spark.streams.addListener(self.progress)
        self.tracer.patch(engine, "_write_batch_idempotent", "changelog_write",
                          "sql.engine")
        self.t0 = time.perf_counter()
        self.t0_ms = time.time() * 1e3

    def finish(self, acc: LayerAcc, names: dict[str, str]) -> None:
        t1 = time.perf_counter()
        t1_ms = time.time() * 1e3
        self.tracer.unpatch()
        self.spark.streams.removeListener(self.progress)
        acc.add_all(self.counters.collect())
        events = self.progress.take()
        window_ms = (t1 - self.t0) * 1e3
        for job, qname in names.items():
            evs = [e for e in events if e["name"] == qname]
            progress_layers(evs, job, acc)
            busy = sum(e["durationMs"].get("triggerExecution", 0) for e in evs)
            acc.add(f"streaming.{job}.idle_ms", max(0.0, window_ms - busy))
            # micro-batches are planned incrementally, outside the
            # QueryExecutionListener: their Catalyst time is queryPlanning
            acc.add("catalyst.planning_ms",
                    sum(e["durationMs"].get("queryPlanning", 0) for e in evs))
        self_ms = self.tracer.self_ms(self.t0, t1)
        acc.add("sql.engine.execute_ms", self_ms.get("sql.engine", 0.0))
        # the driver thread only waits here: the wall is accounted for by
        # the micro-batches of either job, so the unaccounted share is the
        # time in which neither job ran a trigger
        triggers = [(_epoch_ms(e["timestamp"]), e["durationMs"].get("triggerExecution", 0))
                    for e in events if e["name"] in names.values()]
        busy = union_s([(a, a + d) for a, d in triggers], self.t0_ms, t1_ms)
        acc.add("trace.unaccounted_frac", max(0.0, 1.0 - busy / (t1_ms - self.t0_ms)))
        acc.passes = 1


class _Window:
    """One measured window of the two live jobs on a running session."""

    def __init__(self, ctx, spark, base: str, rate: int, warmup_s: float,
                 seconds: float, repeats: int, trace: bool) -> None:
        self.ctx, self.spark, self.base = ctx, spark, base
        self.rate, self.warmup_s, self.seconds = rate, warmup_s, seconds
        self.repeats, self.trace = repeats, trace
        self.src = os.path.join(base, "src")
        self.outs = {job: os.path.join(base, f"out_{job}") for job in LIVE_JOBS}
        self.acc = LayerAcc()
        self.tracing = None

    def run(self) -> None:
        """Generate, deploy, measure, drain and stop; every figure is then
        computed from the files by ``analyse``."""
        from velostream_spark.sql.engine import SqlEngine

        os.makedirs(self.src)
        self.gen_log = os.path.join(self.base, "gen.jsonl")
        go = os.path.join(self.base, "go")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "livegen.py"), "--out", self.src,
             "--log", self.gen_log, "--go", go, "--seed", str(self.ctx.seed),
             "--rate", str(self.rate)],
        )
        self.jobs = {}
        try:
            deadline = time.time() + 60
            while not glob.glob(os.path.join(self.src, "*.parquet")):
                if time.time() > deadline or gen.poll() is not None:
                    raise RuntimeError("the live generator wrote no file")
                time.sleep(0.01)
            self.deploy_walls = []
            for i in range(self.repeats - 1):  # throwaway deploys, timed for setup_s
                eng = SqlEngine(self.spark, time_col="event_ts")
                t0 = time.perf_counter()
                job = eng.execute_streaming(AGG_SQL.format(
                    name=f"probe{i}", src=f"probe{i}_src", path=self.src,
                    out=os.path.join(self.base, f"probe{i}")), wait=False)
                self.deploy_walls.append(time.perf_counter() - t0)
                job.query.stop()
            for job, sql in (("agg", AGG_SQL), ("enrich", ENRICH_SQL)):
                eng = SqlEngine(self.spark, time_col="event_ts")
                t0 = time.perf_counter()
                self.jobs[job] = eng.execute_streaming(sql.format(
                    name=f"live_{job}", src=f"{job}_src", path=self.src,
                    out=self.outs[job]), wait=False)
                if job == "agg":
                    self.deploy_walls.append(time.perf_counter() - t0)
            open(go, "w").close()
            self.w0_ms = time.time() * 1e3 + self.warmup_s * 1e3
            self.w1_ms = self.w0_ms + self.seconds * 1e3
            self.mid_ms = (self.w0_ms + self.w1_ms) / 2
            if self.trace:
                time.sleep(max(0.0, self.mid_ms / 1e3 - time.time()))
                self.tracing = _LiveTracing(self.spark)
            time.sleep(max(0.0, self.w1_ms / 1e3 - time.time()))
            gen.terminate()
            gen.wait(timeout=30)
            for job in LIVE_JOBS:
                self.jobs[job].query.processAllAvailable()
            if self.tracing is not None:
                self.tracing.finish(self.acc, {j: f"live_{j}" for j in LIVE_JOBS})
            for job in LIVE_JOBS:
                q = self.jobs[job].query
                q.stop()
                if q.exception() is not None:
                    raise RuntimeError(f"live job {job} failed: {q.exception()}")
        finally:
            if gen.poll() is None:
                gen.terminate()
                gen.wait(timeout=30)
            for job in self.jobs.values():
                if job.query is not None and job.query.isActive:
                    job.query.stop()

    def analyse(self) -> None:
        """Latencies, per-second completion, misses and output checks."""
        import pandas as pd

        ticks = _read_gen_log(self.gen_log)
        self.ticks = ticks
        in_win = [t for t in ticks if self.w0_ms <= t["due_ms"] < self.w1_ms]
        self.late_max = max((t["late_ms"] for t in in_win), default=0.0)
        if self.late_max > GEN_LATE_LIMIT_MS:
            raise RuntimeError(
                f"run invalid: the generator ran {self.late_max:.0f} ms late "
                f"(limit {GEN_LATE_LIMIT_MS} ms)"
            )
        self.in_win = in_win
        self.events = sum(t["rows"] for t in in_win)
        emit = {"agg": _agg_emissions(self.outs["agg"])}
        emit["enrich"], enrich_first = _native_commits(self.outs["enrich"])
        self.consumed = {j: _source_batches(self.jobs[j].checkpoint) for j in LIVE_JOBS}

        # per source file and job: latency of the batch that consumed it
        file_lat: dict[str, dict[str, float]] = {}
        missed = 0
        for j in LIVE_JOBS:
            file_lat[j] = {}
            for t in in_win:
                b = self.consumed[j].get(t["file"])
                e = emit[j].get(b) if b is not None else None
                lat = e - t["due_ms"] if e is not None else float("inf")
                file_lat[j][t["file"]] = lat
                if lat > LIMIT_MS:
                    missed += t["rows"]
        self.missed_frac = missed / max(1, 2 * self.events)

        # agg: one sample per changelog row, from its newest contributing event
        self.agg_rows = []
        for d in sorted(glob.glob(os.path.join(self.outs["agg"], "b*"))):
            bid = int(os.path.basename(d)[1:])
            if bid in emit["agg"]:
                t = pq.read_table(d).to_pandas()
                t["_lat"] = emit["agg"][bid] - t["max_gen_ms"]
                t["_batch"] = bid
                self.agg_rows.append(t)
        agg = pd.concat(self.agg_rows, ignore_index=True) if self.agg_rows else None
        if agg is None:
            raise RuntimeError("the agg job emitted nothing")
        self.agg_samples = agg
        sel = agg["max_gen_ms"].between(self.w0_ms, self.w1_ms - 1)
        self.agg_lat = agg.loc[sel, "_lat"].to_numpy()
        # enrich: one sample per output row
        parts, lat = [], []
        for name, bid in enrich_first.items():
            t = pq.read_table(os.path.join(self.outs["enrich"], name)).to_pandas()
            parts.append(t)
            g = t["gen_ms"].to_numpy()
            lat.append(emit["enrich"][bid] - g[(g >= self.w0_ms) & (g < self.w1_ms)])
        self.enrich_lat = np.concatenate(lat) if lat else np.array([])

        # per generated second: until both jobs emitted all of its events,
        # counted from the end of that second
        self.per_second = []
        for s in np.arange(self.w0_ms, self.w1_ms - 999, 1000):
            files = [t for t in in_win if s <= t["due_ms"] < s + 1000]
            if files:
                done = max(file_lat[j][t["file"]] + t["due_ms"]
                           for j in LIVE_JOBS for t in files)
                self.per_second.append(done - (s + 1000))
        if not self.per_second or not np.isfinite(median(self.per_second)):
            raise RuntimeError("the live jobs did not emit the measured window")
        self.second_done_s = median(self.per_second) / 1e3
        self.wait_s = median(self.agg_lat) / 1e3

        # checks: the final changelog state per (window, symbol), and the
        # enriched rows, against DuckDB over every generated file
        self.failures = {}
        final = (agg.sort_values("_batch")
                 .groupby(["window_start", "symbol"], as_index=False).last()
                 .drop(columns=["_batch", "_lat"]))
        enrich = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        for job, got, sql in (("agg", final, AGG_ORACLE), ("enrich", enrich, ENRICH_ORACLE)):
            if self.ctx.corrupt == job:
                got = corrupt_first_row(got)
            problems = compare_frames(got, duck(sql.format(src=self.src)))
            if problems:
                self.failures[job] = "; ".join(problems)[:500]

    def agg_p50_between(self, lo_ms: float, hi_ms: float) -> float | None:
        a = self.agg_samples
        lat = a.loc[a["max_gen_ms"].between(lo_ms, hi_ms - 1), "_lat"]
        return median(lat) if len(lat) else None


def _p(values, q: float) -> float:
    """Percentile ``q`` of ``values``; the median is always reported, a tail
    only with ten samples beyond it (else -1)."""
    v = percentile(values, q)
    if v is None:
        return median(values) if q == 50 else -1.0
    return v


def run_live(ctx) -> Result:
    res = Result()
    smoke = ctx.smoke
    spark, start_s = ctx.start_session(ctx.nproc)
    win = _Window(ctx, spark, os.path.join(ctx.work, "live"),
                  SMOKE_RATE if smoke else RATE, 1.0 if smoke else WARMUP_S,
                  ctx.seconds, 1 if smoke else DEPLOY_REPEATS, ctx.trace)
    win.run()
    win.analyse()

    res.metrics["setup_s"] = (start_s + median(win.deploy_walls), "s")
    res.metrics["wait_s"] = (win.wait_s, "s")
    res.named["live_second_done_s"] = (win.second_done_s, "s")
    for job, lat in (("agg", win.agg_lat), ("enrich", win.enrich_lat)):
        res.named[f"live_{job}_p50_ms"] = (_p(lat, 50), "ms")
        res.named[f"live_{job}_p99_ms"] = (_p(lat, 99), "ms")
    res.named["live_missed_frac"] = (win.missed_frac, "ratio")
    res.attempted = 2 * win.events
    res.failed = win.events * len(win.failures)
    res.failures = win.failures
    res.named["failed_frac"] = (res.failed / max(1, res.attempted), "ratio")
    res.record.update(
        warmup_s=win.warmup_s, window_s=ctx.seconds, rate_events_per_s=win.rate,
        events=win.events, agg_samples=len(win.agg_lat),
        enrich_samples=len(win.enrich_lat),
        per_second_done_ms=[round(x, 1) for x in win.per_second],
        deploy_walls_s=[round(w, 4) for w in win.deploy_walls],
        session_start_s=round(start_s, 4), gen_late_max_ms=win.late_max,
    )

    if win.tracing is not None:
        acc = win.acc
        half = [t for t in win.in_win if t["due_ms"] >= win.mid_ms]
        acc.add("gen.files", len(half))
        acc.add("gen.rows", sum(t["rows"] for t in half))
        acc.add("gen.late_max_ms", max((t["late_ms"] for t in half), default=0.0))
        for j in LIVE_JOBS:
            acc.add(f"streaming.{j}.backlog_files_max", _backlog_max(
                win.ticks, win.consumed[j], win.jobs[j].checkpoint, win.mid_ms))
        # traced second half of the window against the untraced first half
        traced = win.agg_p50_between(win.mid_ms, win.w1_ms)
        untraced = win.agg_p50_between(win.w0_ms, win.mid_ms)
        overhead = traced / untraced - 1.0 if traced and untraced else 0.0
        res.layers = layer_metrics(acc, overhead, start_s, median(win.deploy_walls),
                                   live=True)
        res.record["spans_file"] = win.tracing.tracer.write(
            os.path.join(ctx.results_dir, f"spans-stream_live-{ctx.seed}.json"))
        # single-core baseline: the same jobs and rate on local[1]
        ctx.stop_session()
        spark1, _ = ctx.start_session(1)
        base1 = _Window(ctx, spark1, os.path.join(ctx.work, "live1"), win.rate,
                        win.warmup_s, ctx.seconds, 1, False)
        base1.run()
        base1.analyse()
        res.layers["baseline.local1_wait_s"] = (base1.wait_s, "s")
        res.layers["baseline.localN_wait_s"] = (win.wait_s, "s")
        res.record["baseline"] = {"local[1]": base1.wait_s, f"local[{ctx.nproc}]": win.wait_s}
    return res


def _backlog_max(ticks, consumed: dict[str, int], ckpt: str, from_ms: float) -> int:
    """Most generated-but-unconsumed files seen at any batch start after
    ``from_ms`` (a batch starts when its offset-log entry is written)."""
    worst = 0
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        base = os.path.basename(path)
        if not base.isdigit():
            continue
        bid, t_ms = int(base), _mtime_ms(path)
        if t_ms < from_ms:
            continue
        written = sum(1 for t in ticks if t["done_ms"] <= t_ms)
        done = sum(1 for b in consumed.values() if b < bid)
        worst = max(worst, written - done)
    return worst
