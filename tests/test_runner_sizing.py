"""The streaming runner's scoped query start (``runner.start_query``):
size-adaptive shuffle/state partitioning for bounded triggers, the
FileSystem-based checkpoint manager for local checkpoints, and exact
restoration of the session conf afterwards. Cluster regime (large input),
non-local checkpoint schemes and a session-chosen manager are untouched."""

from __future__ import annotations

import math
import os
import sys
import threading

import pytest

from tests.conftest import SF_SMOKE
from velostream_spark.streaming import runner
from velostream_spark.streaming.source import stream_table

_FILE_CONTEXT_FM = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


class _RecordingWriter:
    """Stands in for a DataStreamWriter: records the session conf that
    start() sees, then returns a query that is already inactive (or
    raises, to check restoration on failure)."""

    class _Done:
        isActive = False

    def __init__(self, spark, fail: bool = False):
        self.spark = spark
        self.fail = fail
        self.seen: dict = {}

    def option(self, _key, _value):
        return self

    def trigger(self, **_kw):
        return self

    def start(self):
        for k in (runner._FM_CONF, runner._SHUFFLE_CONF):
            self.seen[k] = self.spark.conf.get(k, None)
        if self.fail:
            raise RuntimeError("start failed")
        return self._Done()


def _events(spark):
    return stream_table(spark, SF_SMOKE, "events")


def _expected_partitions(spark, sdf) -> "int | None":
    session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = min(session_n, max(1, math.ceil(
        runner._stream_input_bytes(sdf) / runner._TARGET_PART_BYTES)))
    return n if n <= session_n // 2 else None


def _state_partitions(q) -> int:
    ops = [s for p in q.recentProgress for s in p["stateOperators"]]
    return max(s["numShufflePartitions"] for s in ops)


def test_stream_input_bytes_resolves_glob_source(spark):
    sdf = _events(spark).select("event_id")
    n = runner._stream_input_bytes(sdf)
    actual = os.path.getsize(os.path.join(SF_SMOKE, "events.parquet"))
    assert n == actual, (n, actual)


def test_stream_input_bytes_none_for_batch_df(spark):
    df = spark.range(10)
    assert runner._stream_input_bytes(df) is None


def test_sized_partitions_small_input_and_restore(spark, tmp_path):
    # a bounded start sees the size-derived count; the session value is
    # back afterwards, byte for byte
    before = spark.conf.get(runner._SHUFFLE_CONF, None)
    sdf = _events(spark)
    expect = _expected_partitions(spark, sdf)
    w = _RecordingWriter(spark)
    runner.start_query(sdf, w, str(tmp_path / "ck"), {"availableNow": True})
    assert w.seen[runner._SHUFFLE_CONF] == (
        before if expect is None else str(expect)
    )
    assert spark.conf.get(runner._SHUFFLE_CONF, None) == before


def test_sized_partitions_large_input_keeps_session_value(spark, monkeypatch):
    # cluster regime: bytes/target >> session partitions → no override
    monkeypatch.setattr(runner, "_TARGET_PART_BYTES", 1)
    overrides = runner._start_overrides(_events(spark), "/ck", bounded=True)
    assert runner._SHUFFLE_CONF not in overrides


def test_continuous_trigger_keeps_session_partitions(spark, tmp_path):
    # a continuous job's state partition count lives as long as its
    # checkpoint: no sizing, but a local checkpoint still gets the manager
    sdf = _events(spark)
    assert _expected_partitions(spark, sdf) is not None
    overrides = runner._start_overrides(sdf, str(tmp_path), bounded=False)
    assert runner._SHUFFLE_CONF not in overrides
    assert overrides[runner._FM_CONF] == runner._fs_manager_class(spark)
    before = spark.conf.get(runner._SHUFFLE_CONF, None)
    w = _RecordingWriter(spark)
    runner.start_query(sdf, w, str(tmp_path), {"processingTime": "0 seconds"})
    assert w.seen[runner._SHUFFLE_CONF] == before


def test_state_partitions_follow_sizing_end_to_end(spark):
    """A bounded stateful run on a tiny source uses the derived partition
    count for its state store (visible as the sink's task partitioning),
    and results match batch dropDuplicates exactly."""
    sdf = _events(spark).select("user_id", "event_type")
    out = runner.run_available_now(
        sdf.dropDuplicates(["user_id"]), "append", "sizing_e2e"
    )
    got = {r["user_id"] for r in out.collect()}
    from velostream_spark.session import load_tables

    t = load_tables(spark, SF_SMOKE, register_views=False)
    expect = {r["user_id"] for r in t["events"].select("user_id").distinct().collect()}
    assert got == expect


def test_local_ckpt_file_manager_set_and_restored(spark, tmp_path):
    # a local checkpoint starts under the FileSystem-based manager; the
    # unset session key is unset again afterwards
    assert spark.conf.get(runner._FM_CONF, None) is None
    w = _RecordingWriter(spark)
    runner.start_query(_events(spark), w, str(tmp_path), {"availableNow": True})
    assert w.seen[runner._FM_CONF] == runner._fs_manager_class(spark)
    assert w.seen[runner._FM_CONF] is not None
    assert spark.conf.get(runner._FM_CONF, None) is None


def _log_manager(jlog) -> str:
    """Class name of the checkpoint file manager a metadata log writes
    through (HDFSMetadataLog's private ``fileManager``)."""
    cls = jlog.getClass()
    while cls is not None:
        try:
            field = cls.getDeclaredField("fileManager")
        except Exception:
            cls = cls.getSuperclass()
            continue
        field.setAccessible(True)
        return field.get(jlog).getClass().getName()
    raise AssertionError("no fileManager field")


def test_continuous_job_opens_every_log_under_fs_manager(spark, tmp_path):
    # the override is held until the stream thread has opened the
    # offsets/commits logs and each source's sources/N log; the sources
    # open one after another, after start() has returned
    src = str(tmp_path / "src")
    spark.range(20).selectExpr("id % 3 AS k").write.parquet(src)
    n_sources = 6
    sdf = spark.readStream.schema("k long").parquet(src)
    for _ in range(n_sources - 1):
        sdf = sdf.unionAll(spark.readStream.schema("k long").parquet(src))
    sdf = sdf.groupBy("k").count()
    w = sdf.writeStream.format("memory").queryName("fm_logs").outputMode("update")
    q = runner.start_query(
        sdf, w, str(tmp_path / "ck"), {"processingTime": "0 seconds"}
    )
    try:
        assert spark.conf.get(runner._FM_CONF, None) is None
        fm = runner._fs_manager_class(spark)
        se = q._jsq.streamingQuery()
        logs = [se.offsetLog(), se.commitLog()]
        sources = se.sources()
        for i in range(sources.size()):
            source = sources.apply(i)
            field = source.getClass().getDeclaredField("metadataLog")
            field.setAccessible(True)
            logs.append(field.get(source))
        assert len(logs) == 2 + n_sources
        assert [_log_manager(log) for log in logs] == [fm] * len(logs)
        q.processAllAvailable()
        assert {tuple(r) for r in spark.table("fm_logs").collect()} == {
            (0, 7 * n_sources), (1, 7 * n_sources), (2, 6 * n_sources)
        }
    finally:
        q.stop()


def test_conf_restored_when_start_raises(spark, tmp_path):
    before = {
        k: spark.conf.get(k, None) for k in (runner._FM_CONF, runner._SHUFFLE_CONF)
    }
    w = _RecordingWriter(spark, fail=True)
    with pytest.raises(RuntimeError, match="start failed"):
        runner.start_query(_events(spark), w, str(tmp_path), {"availableNow": True})
    assert w.seen[runner._FM_CONF] is not None  # the override was applied
    assert {k: spark.conf.get(k, None) for k in before} == before


def test_user_set_manager_left_alone(spark, tmp_path):
    # a session-chosen manager is respected: not overridden, not touched
    spark.conf.set(runner._FM_CONF, "com.example.CustomManager")
    try:
        overrides = runner._start_overrides(_events(spark), str(tmp_path), True)
        assert runner._FM_CONF not in overrides
        w = _RecordingWriter(spark)
        runner.start_query(_events(spark), w, str(tmp_path), {"availableNow": True})
        assert w.seen[runner._FM_CONF] == "com.example.CustomManager"
        assert spark.conf.get(runner._FM_CONF) == "com.example.CustomManager"
    finally:
        spark.conf.unset(runner._FM_CONF)


@pytest.mark.parametrize(
    "path, default_fs, local",
    [
        ("/data/ckpt", "file:///", True),
        ("relative/ckpt", "file:///", True),
        ("file:///data/ckpt", "file:///", True),
        ("file:/data/ckpt", "hdfs://nn:8020", True),
        ("hdfs://nn:8020/ckpt", "file:///", False),
        ("s3a://bucket/ckpt", "file:///", False),
        ("/data/ckpt", "hdfs://nn:8020", False),
    ],
)
def test_checkpoint_scheme_decision(path, default_fs, local):
    assert runner._is_local_path(path, default_fs) is local


@pytest.mark.parametrize("ckpt", ["hdfs://nn:8020/ckpt", "s3a://bucket/ckpt"])
def test_non_local_checkpoint_keeps_default_manager(spark, ckpt):
    overrides = runner._start_overrides(_events(spark), ckpt, bounded=False)
    assert runner._FM_CONF not in overrides


def test_unresolvable_manager_class_leaves_conf_alone(spark, monkeypatch):
    # neither candidate resolves (e.g. a Spark that moved the class):
    # the conf is never touched and bounded runs stay correct
    monkeypatch.setattr(
        runner, "_FM_CANDIDATES", ("com.example.Missing", "com.example.Gone")
    )
    assert runner._fs_manager_class(spark) is None
    seen = []
    orig = runner._start_overrides

    def spy(*a, **kw):
        out = orig(*a, **kw)
        seen.append(out)
        return out

    monkeypatch.setattr(runner, "_start_overrides", spy)
    sdf = _events(spark).select("user_id")
    out = runner.run_available_now(sdf.dropDuplicates(["user_id"]), "append", "nofm")
    assert seen and all(runner._FM_CONF not in o for o in seen)
    assert spark.conf.get(runner._FM_CONF, None) is None
    expect = {r[0] for r in spark.read.parquet(
        os.path.join(SF_SMOKE, "events.parquet")).select("user_id").distinct().collect()}
    assert {r["user_id"] for r in out.collect()} == expect


def test_bounded_run_results_identical_under_fs_manager(spark):
    # same stateful job: FileSystem-based manager (applied by the runner)
    # vs the default FileContext manager (chosen by the session, so left
    # alone) → identical rows
    def run():
        sdf = _events(spark).select("event_id", "user_id", "value")
        out = runner.run_available_now(
            sdf.dropDuplicates(["user_id"]), "append", "fm_parity"
        )
        return {tuple(r) for r in out.collect()}

    with_fm = run()
    spark.conf.set(runner._FM_CONF, _FILE_CONTEXT_FM)
    try:
        without_fm = run()
    finally:
        spark.conf.unset(runner._FM_CONF)
    assert with_fm == without_fm and len(with_fm) > 0


def test_concurrent_bounded_runs_on_one_session(spark, tmp_path, monkeypatch):
    """Two bounded stateful runs started from two threads on ONE session,
    each sized to a different partition count: both get their own count
    and oracle-correct rows, and the session conf is as before."""
    events_bytes = os.path.getsize(os.path.join(SF_SMOKE, "events.parquet"))
    # target chosen so events sizes to 2 partitions and the tiny table to 1
    monkeypatch.setattr(runner, "_TARGET_PART_BYTES", max(1, events_bytes // 2 + 1))
    small = str(tmp_path / "small")
    spark.range(50).selectExpr("id % 7 AS k").write.parquet(small)
    before = {
        k: spark.conf.get(k, None) for k in (runner._FM_CONF, runner._SHUFFLE_CONF)
    }

    jobs = {
        "ev": (
            _events(spark).select("user_id").dropDuplicates(["user_id"]),
            {r[0] for r in spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
             .select("user_id").distinct().collect()},
            2,
        ),
        "small": (
            spark.readStream.schema("k long").parquet(small).dropDuplicates(["k"]),
            set(range(7)),
            1,
        ),
    }
    results: dict = {}
    errors: list = []
    barrier = threading.Barrier(len(jobs))

    def run(name, sdf):
        try:
            barrier.wait()
            w = sdf.writeStream.format("memory").queryName(f"conc_{name}")
            q = runner.start_query(
                sdf, w.outputMode("append"), str(tmp_path / f"ck_{name}"),
                {"availableNow": True},
            )
            q.awaitTermination(120)
            results[name] = (
                _state_partitions(q),
                {r[0] for r in spark.table(f"conc_{name}").collect()},
            )
        except Exception as exc:  # re-raised below, from the test thread
            errors.append((name, exc))

    threads = [threading.Thread(target=run, args=(n, j[0])) for n, j in jobs.items()]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for name, (_sdf, expect_rows, expect_n) in jobs.items():
        parts, rows = results[name]
        assert parts == expect_n, (name, parts)
        assert rows == expect_rows, name
    assert {k: spark.conf.get(k, None) for k in before} == before
