"""Run-to-completion helpers: execute a streaming plan over the (bounded)
test data with the ``availableNow`` trigger and hand back the sink contents
as a DataFrame.

This is the Spark analog of the reference's bounded-source execution path
(velo-sql-batch / engine.rs:1242 ``flush_windows`` on source end): process
everything currently available as a sequence of micro-batches, advance the
watermark, flush what closes, stop.

Append-mode runs go through a parquet *file* sink (a distributed write —
the production-faithful path; the driver never holds the result set) and
the sink directory is handed back as a DataFrame. Update/complete modes
(changelog semantics the file sink can't express) use the memory sink —
their outputs are small aggregates by construction.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import tempfile
import threading
import time
from typing import Any
from urllib.parse import urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_COUNTER = itertools.count()

#: Size-adaptive shuffle/state partitioning for BOUNDED runs (guide §2:
#: derive partitioning from input size, never a constant). Structured
#: Streaming fixes its state-store partition count to
#: spark.sql.shuffle.partitions at query start and AQE cannot coalesce it
#: afterwards, so a small bounded stream otherwise pays one state-store
#: instance (delta-file commit per micro-batch, maintenance thread) per
#: session shuffle partition — measured 1.18 s vs 0.71 s for an identical
#: dropDuplicates job at 32 vs 8 partitions (OPTIMIZATION_r15.md §5). The
#: partition count is ceil(source_bytes / target), CLAMPED ABOVE at the
#: session's own shuffle-partition setting: a corpus-scale input always
#: yields >= the configured parallelism, so cluster behavior is the
#: session default, unchanged — only small bounded runs stop paying for
#: empty state stores.
_TARGET_PART_BYTES = 4 * 1024 * 1024

_SHUFFLE_CONF = "spark.sql.shuffle.partitions"


def _stream_input_bytes(sdf: DataFrame) -> "int | None":
    """Total bytes of the local file sources feeding ``sdf``, read from
    the analyzed plan's StreamingRelation leaves (path + pathGlobFilter
    options). None when any source is not a readable local file/dir —
    callers then keep the session's shuffle-partition setting."""
    import fnmatch

    def _opt(opts, key):
        v = opts.get(key)
        return v.get() if v.isDefined() else None

    try:
        # analyzed, not logical: a bare readStream is an
        # UnresolvedDataSource until analysis resolves the file source
        leaves = sdf._jdf.queryExecution().analyzed().collectLeaves()  # type: ignore[attr-defined]
        total = 0
        seen = False
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if "StreamingRelation" not in leaf.getClass().getName():
                continue
            opts = leaf.dataSource().options()
            path = _opt(opts, "path")
            if not path:
                return None
            seen = True
            glob = _opt(opts, "pathGlobFilter")
            if os.path.isfile(path):
                total += os.path.getsize(path)
            elif os.path.isdir(path):
                for root, _dirs, files in os.walk(path, followlinks=True):
                    # pathGlobFilter matches each listed LEAF file's name
                    # (Spark applies the glob to file names during
                    # listing, at any depth) — match every file's own
                    # name; an approximation only in that Spark's
                    # non-recursive listing may not descend where this
                    # walk does, which over-counts, never under-counts
                    for f in files:
                        if glob and not fnmatch.fnmatch(f, glob):
                            continue
                        with contextlib.suppress(OSError):
                            total += os.path.getsize(os.path.join(root, f))
            else:
                return None
    except Exception:
        return None
    return total if seen and total > 0 else None


def _sized_partitions(sdf: DataFrame) -> "int | None":
    """Shuffle/state partition count for a bounded run of ``sdf``, or None
    to keep the session value (unknown input size, or a sizing that would
    not at least halve the session count: a 29-for-32 rewrite cannot win
    anything but still perturbs the plan)."""
    n_bytes = _stream_input_bytes(sdf)
    if n_bytes is None:
        return None
    session_n = int(sdf.sparkSession.conf.get(_SHUFFLE_CONF))
    n = min(session_n, max(1, math.ceil(n_bytes / _TARGET_PART_BYTES)))
    return n if n <= session_n // 2 else None


#: Checkpoint file manager for checkpoints on the LOCAL file system.
#: Spark's default FileContext-based manager constructs a fresh
#: FileContext + AbstractFileSystem per metadata log AND per state-store
#: provider (FileContext has no instance cache): ~40 ms per metadata op
#: (latestOffset / walCommit / commitOffsets) and most of a stateful
#: job's addBatch in state-store commits. FileSystemBasedCheckpointFileManager
#: — Spark's own fallback manager — goes through the process-wide
#: FileSystem CACHE instead: bounded runs went from a metadata trio of
#: 42/41/42 to 9/9/9 ms and a dropDuplicates job from 1.10 to 0.71 s
#: (OPTIMIZATION_r16.md); on 4 cores the continuous EMIT CHANGES agg of
#: the stream_live benchmark went from 347 to 17 ms of state-store commit
#: per batch (summed over its 4 stores) and from 608 to 464 ms per trigger.
#:
#: On ``file:`` the default manager gives no atomicity this one lacks
#: (hadoop-client-api 3.4.2 bytecode): DelegateToFileSystem.renameInternal
#: calls FileSystem.rename(src, dst, Rename.NONE); RawLocalFileSystem does
#: not override that method, whose base implementation checks
#: getFileLinkStatus(dst) and then does a plain rename — the same
#: exists-then-rename FileSystemBasedCheckpointFileManager.renameTempFile
#: does. The rename-without-overwrite guarantee that protects a durable
#: checkpoint from a zombie driver exists only on HDFS-like stores, so any
#: other scheme (hdfs://, s3a://, a non-file fs.defaultFS) keeps Spark's
#: default, as does a session that chose a manager itself.
_FM_CONF = "spark.sql.streaming.checkpointFileManagerClass"
#: Spark 4 location first, then Spark 3's; the first the JVM resolves wins
_FM_CANDIDATES: tuple[str, ...] = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager",
    "org.apache.spark.sql.execution.streaming.FileSystemBasedCheckpointFileManager",
)
_FM_RESOLVED: dict[tuple[str, ...], "str | None"] = {}


def _fs_manager_class(spark: SparkSession) -> "str | None":
    """The FileSystem-based manager's class name on this JVM, probed with
    Class.forName once per process; None when no candidate resolves."""
    if _FM_CANDIDATES not in _FM_RESOLVED:
        found = None
        for name in _FM_CANDIDATES:
            try:
                spark._jvm.java.lang.Class.forName(name)  # type: ignore[attr-defined]
            except Py4JError:
                continue
            found = name
            break
        _FM_RESOLVED[_FM_CANDIDATES] = found
    return _FM_RESOLVED[_FM_CANDIDATES]


def _is_local_path(path: str, default_fs: str = "file:///") -> bool:
    """True when ``path`` resolves to the local file system: a ``file:``
    URI, or a scheme-less path under a ``file:`` default file system."""
    scheme = urlparse(path).scheme or urlparse(default_fs).scheme
    return scheme in ("", "file")


def _start_overrides(
    sdf: DataFrame, checkpoint: str, bounded: bool
) -> dict[str, str]:
    """Session conf overrides for starting ``sdf`` against ``checkpoint``:
    the FileSystem-based checkpoint manager for a local checkpoint the
    session has not chosen a manager for, and — bounded triggers only —
    the size-derived partition count. A continuous job's state partition
    count is fixed for its checkpoint's whole life, so it keeps the
    session value."""
    spark = sdf.sparkSession
    out: dict[str, str] = {}
    try:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore[union-attr]
    except AttributeError:  # no JVM gateway (Spark Connect): keep the default
        hconf = None
    if (
        hconf is not None
        and not (spark.conf.get(_FM_CONF, None) or hconf.get(_FM_CONF))
        and _is_local_path(checkpoint, hconf.get("fs.defaultFS") or "file:///")
    ):
        fm = _fs_manager_class(spark)
        if fm is not None:
            out[_FM_CONF] = fm
    n = _sized_partitions(sdf) if bounded else None
    if n is not None:
        out[_SHUFFLE_CONF] = str(n)
    return out


#: Serializes set → start → restore, so only the starts of concurrent
#: queries wait on each other, and each captures its own overrides.
_START_LOCK = threading.Lock()
#: Upper bound on holding the overrides while a query opens its logs.
_INIT_WAIT_S = 60.0


def start_query(
    sdf: DataFrame,
    writer: DataStreamWriter,
    checkpoint: str,
    trigger: "dict[str, Any] | None" = None,
) -> StreamingQuery:
    """Start ``writer`` (a writeStream of ``sdf``) on ``checkpoint`` with
    ``trigger``, under the scoped conf overrides of
    :func:`_start_overrides`; the session conf is restored exactly
    (unset keys unset again) before returning, also when start() raises.

    The overrides are held until the query has opened every log it
    writes, and no longer (not across awaitTermination). In Spark 4.1 the
    stream's cloned session — which opens the offsets/commits logs and
    plans batches and state stores — is copied inside start(), but the
    sources and their ``sources/N`` logs are created afterwards on the
    stream thread from the ORIGINAL session's conf, while the status
    reads "Initializing sources"; start() returns before that. With no
    override to hold, start() alone runs under the lock, so the query
    cannot capture another start's overrides."""
    trigger = trigger or {}
    writer = writer.option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    bounded = bool(trigger.get("availableNow") or trigger.get("once"))
    spark = sdf.sparkSession
    with _START_LOCK:
        overrides = _start_overrides(sdf, checkpoint, bounded)
        prev = {k: spark.conf.get(k, None) for k in overrides}
        try:
            for k, v in overrides.items():
                spark.conf.set(k, v)
            q = writer.start()
            deadline = time.monotonic() + _INIT_WAIT_S
            while (
                overrides
                and q.isActive
                and q.status["message"].startswith("Initializing")
                and time.monotonic() < deadline
            ):
                time.sleep(0.005)
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    return q


#: Throwaway checkpoints/sinks (unique per call, never resumed) go to tmpfs
#: when the host has one — state-store commits and sink files then cost
#: memory bandwidth, not disk fsyncs. Production jobs configure their own
#: durable checkpointLocation through the SQL engine; this helper is the
#: run-to-completion path for tests/bench only.
_SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _unique(prefix: str) -> str:
    return f"{prefix}_{next(_COUNTER)}"


def _scratch_dir(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH)
    _SCRATCH_DIRS.append(d)
    return d


#: tmpfs holds RAM — sweep every scratch dir at interpreter exit (the old
#: /tmp variant leaked them to disk, harmless; leaking RAM is not).
_SCRATCH_DIRS: list[str] = []


def _sweep_scratch() -> None:  # pragma: no cover — exit hook
    import shutil

    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_sweep_scratch)


_AVAILABLE_NOW = {"availableNow": True}


def run_available_now(
    sdf: DataFrame,
    output_mode: str,
    query_name: str | None = None,
    timeout_s: int = 300,
) -> DataFrame:
    """Run a streaming DataFrame to completion; return the sink contents.

    Append mode writes a parquet file sink (distributed — executors write
    their partitions directly, no driver collect) and returns a reader over
    it; update/complete modes use the memory sink. Unique sink name +
    throwaway checkpoint per call, so repeated invocations (driver retries,
    bench steady-state) are independent."""
    name = _unique(query_name or "vs_stream")
    ckpt = _scratch_dir(f"vs-ckpt-{name}-")
    if output_mode == "append":
        out_dir = _scratch_dir(f"vs-out-{name}-")
        writer = sdf.writeStream.format("parquet").option("path", out_dir)
    else:
        writer = sdf.writeStream.format("memory")
    q = start_query(
        sdf, writer.queryName(name).outputMode(output_mode), ckpt, _AVAILABLE_NOW
    )
    q.awaitTermination(timeout_s)
    if output_mode == "append":
        # Explicit schema: a zero-row run leaves no data files to infer from.
        return sdf.sparkSession.read.schema(sdf.schema).parquet(out_dir)
    return sdf.sparkSession.table(name)


def run_foreach_batch(
    sdf: DataFrame,
    func,
    output_mode: str = "update",
    query_name: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Run a streaming DataFrame to completion through ``foreachBatch`` —
    the reference's DataWriter.write_batch loop (datasource/traits.rs:154);
    ``func(batch_df, batch_id)`` is invoked once per micro-batch."""
    name = _unique(query_name or "vs_feb")
    ckpt = _scratch_dir(f"vs-ckpt-{name}-")
    writer = sdf.writeStream.foreachBatch(func).queryName(name).outputMode(output_mode)
    start_query(sdf, writer, ckpt, _AVAILABLE_NOW).awaitTermination(timeout_s)


def max_event_time(spark: SparkSession, batch_df: DataFrame, ts_col: str):
    """Max event time of a bounded input — the final watermark position of
    an availableNow run with 0s delay (windows ending ≤ this emitted)."""
    import pyspark.sql.functions as F

    return batch_df.agg(F.max(ts_col)).collect()[0][0]
