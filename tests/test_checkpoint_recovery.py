"""Recovery of continuous jobs from durable LOCAL checkpoints, which the
engine opens through the FileSystem-based checkpoint manager
(``runner.start_query``): an EMIT CHANGES job stopped mid-stream resumes
from its checkpoint with no lost or duplicated batch, and a checkpoint
first written under Spark's default manager resumes under the new one."""

from __future__ import annotations

import os
import re

from velostream_spark.sql.engine import SqlEngine
from velostream_spark.streaming import runner

_FILE_CONTEXT_FM = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _sql(src: str, out: str) -> str:
    return (
        "CREATE STREAM rec AS SELECT k, COUNT(*) AS n, SUM(v) AS s "
        "FROM rsrc GROUP BY k EMIT CHANGES "
        f"WITH ('rsrc.type' = 'file_source', 'rsrc.path' = '{src}', "
        "'rsrc.format' = 'parquet', "
        "'rec.type' = 'file_sink', 'rec.format' = 'parquet', "
        f"'rec.path' = '{out}')"
    )


def _add_file(spark, src: str, start: int, n: int = 40) -> None:
    spark.range(start, start + n).selectExpr(
        "CAST(id % 5 AS INT) AS k", "CAST(id AS BIGINT) AS v"
    ).coalesce(1).write.mode("append").parquet(src)


def _changelog_batches(spark, out: str) -> dict[int, list]:
    ids = sorted(
        int(m.group(1)) for d in os.listdir(out)
        if (m := re.fullmatch(r"b(\d+)", d))
    )
    return {
        i: spark.read.parquet(os.path.join(out, f"b{i}")).collect() for i in ids
    }


def _assert_changelog_matches_batch(spark, src: str, out: str, ckpt: str):
    batches = _changelog_batches(spark, out)
    # every committed batch id wrote exactly one changelog dir, none lost
    commits = {int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()}
    assert sorted(batches) == list(range(len(batches))), sorted(batches)
    assert set(batches) == commits, (sorted(batches), sorted(commits))
    state: dict = {}
    for i in sorted(batches):  # fold the changelog: last update per key wins
        for r in batches[i]:
            state[r["k"]] = (r["n"], r["s"])
    expect = {
        r["k"]: (r["n"], r["s"])
        for r in spark.read.parquet(src)
        .groupBy("k").agg({"*": "count", "v": "sum"})
        .withColumnRenamed("count(1)", "n").withColumnRenamed("sum(v)", "s")
        .collect()
    }
    assert state == expect


def test_emit_changes_job_resumes_mid_stream(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _add_file(spark, src, 0)
    e = SqlEngine(spark)
    job = e.execute_streaming(_sql(src, out), wait=False)
    try:
        job.query.processAllAvailable()
        _add_file(spark, src, 100)
        job.query.processAllAvailable()
        _add_file(spark, src, 200)  # may or may not be picked up before stop
        e.jobs.stop("rec")
        _add_file(spark, src, 300)
        e.jobs.resume("rec")
        job.query.processAllAvailable()
        _add_file(spark, src, 400)
        job.query.processAllAvailable()
    finally:
        e.jobs.stop("rec")
    _assert_changelog_matches_batch(spark, src, out, job.checkpoint)
    assert len(_changelog_batches(spark, out)) >= 4


def test_default_manager_checkpoint_resumes_under_fs_manager(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _add_file(spark, src, 0)
    e = SqlEngine(spark)
    # first life: the session chooses Spark's default FileContext manager,
    # which the engine leaves alone
    spark.conf.set(runner._FM_CONF, _FILE_CONTEXT_FM)
    try:
        job = e.execute_streaming(_sql(src, out), wait=False)
        job.query.processAllAvailable()
        _add_file(spark, src, 100)
        job.query.processAllAvailable()
        e.jobs.stop("rec")
    finally:
        spark.conf.unset(runner._FM_CONF)
    # second life on the same checkpoint: the engine now applies the
    # FileSystem-based manager
    assert runner._start_overrides(job.build(), job.checkpoint, bounded=False) == {
        runner._FM_CONF: runner._fs_manager_class(spark)
    }
    _add_file(spark, src, 200)
    try:
        e.jobs.resume("rec")
        job.query.processAllAvailable()
        _add_file(spark, src, 300)
        job.query.processAllAvailable()
    finally:
        e.jobs.stop("rec")
    _assert_changelog_matches_batch(spark, src, out, job.checkpoint)
    assert len(_changelog_batches(spark, out)) >= 3
