"""Multi-job server analog — the reference's `velo-sql` job layer
(src/velostream/server/stream_job_server.rs; job lifecycle statements
START/STOP/PAUSE/RESUME JOB, ast.rs:302-365; SHOW JOBS/STREAMS,
ast.rs:471-497) as a thin registry over ``spark.streams``.

Spark already provides what the reference's server hand-builds: per-query
lifecycle (``StreamingQuery.stop``), checkpoint-based recovery (stronger
than the reference's at-least-once transactional processor,
server/processors/transactional.rs:36-40), and progress metrics
(``lastProgress`` ≈ the reference's @metric annotations). PAUSE maps to
stop-with-checkpoint; RESUME restarts the writer from the same checkpoint —
exactly-once resumes where it left off.
"""

from __future__ import annotations

import os
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from velostream_spark.streaming.runner import start_query

#: build() -> streaming DataFrame; re-invoked on RESUME (plans are not
#: serializable across stop/start, so jobs are declared by a builder fn).
PlanBuilder = Callable[[], DataFrame]


def _norm_sink_path(path: str) -> str:
    """Normalize a sink path for the native-file-sink clash guard:
    '/out', '/out/', 'file:///out' and '/a/./out' all name ONE
    directory, and raw string equality would let an alias bypass the
    guard straight into the _spark_metadata batch-skip it prevents."""
    if path.startswith("file://"):
        path = path[len("file://"):]
    return os.path.normpath(path.rstrip("/")) if path else path


@dataclass
class StreamJob:
    name: str
    build: PlanBuilder
    sink_format: str
    sink_options: dict[str, str]
    output_mode: str
    checkpoint: str
    trigger: dict[str, Any]
    query: StreamingQuery | None = None
    state: str = "defined"  # defined | running | paused | stopped | failed
    deployed_at: float = field(default_factory=time.time)
    #: STOP JOB name FORCE (ast.rs StopJob.force) — echoed like job.rs:103
    stop_forced: bool = False
    #: per-micro-batch sink function (fn(batch_df, batch_id)); when set the
    #: writer uses foreachBatch instead of the format sink — the route for
    #: per-batch enrichments (e.g. the streaming-SQL ASOF JOIN against a
    #: static table); sink_format/sink_options then describe the target the
    #: function writes to, for SHOW JOBS only
    foreach_batch: Callable[[DataFrame, int], None] | None = None


@dataclass
class JobVersion:
    """One deployed version of a job (ast.rs DeployJob: name, version,
    strategy; versions keep their own checkpoints — different plan shapes
    cannot share offset/state logs)."""

    version: str
    build: PlanBuilder
    strategy: str  # blue_green | canary | rolling | replace
    canary_pct: int | None
    sink_format: str
    sink_options: dict[str, str]
    output_mode: str
    trigger: dict[str, Any]
    deployed_at: float = field(default_factory=time.time)
    #: per-micro-batch sink fn — versioned deploys carry the foreachBatch
    #: routes (ASOF enrichment, file changelogs) exactly like plain
    #: deploys do (r14 verdict task 2; reference: the job server versions
    #: every shape, stream_job_server.rs, ast.rs:302-365)
    foreach_batch: Callable[[DataFrame, int], None] | None = None


class StreamJobManager:
    """Named streaming jobs with deploy/stop/pause/resume/show."""

    def __init__(self, spark: SparkSession, checkpoint_root: str | None = None):
        self.spark = spark
        self.checkpoint_root = checkpoint_root or tempfile.mkdtemp(prefix="vs-jobs-")
        self.jobs: dict[str, StreamJob] = {}
        #: job → ordered version history (ast.rs:344-352 DeployJob)
        self.versions: dict[str, list[JobVersion]] = {}
        #: job → currently-serving version id
        self.current_version: dict[str, str] = {}

    # -- lifecycle ---------------------------------------------------------

    def deploy(
        self,
        name: str,
        build: PlanBuilder,
        sink_format: str = "memory",
        sink_options: dict[str, str] | None = None,
        output_mode: str = "append",
        trigger: dict[str, Any] | None = None,
        start: bool = True,
        foreach_batch: Callable[[DataFrame, int], None] | None = None,
    ) -> StreamJob:
        """DEPLOY JOB — register and (by default) start a named job."""
        if name in self.jobs and self.jobs[name].state == "running":
            raise ValueError(f"job {name!r} is already running")
        job = StreamJob(
            name=name,
            build=build,
            sink_format=sink_format,
            sink_options=dict(sink_options or {}),
            output_mode=output_mode,
            checkpoint=os.path.join(self.checkpoint_root, name),
            trigger=dict(trigger or {"availableNow": True}),
            foreach_batch=foreach_batch,
        )
        self.jobs[name] = job
        if start:
            self._start(job)
        return job

    def _start(self, job: StreamJob, query_name: str | None = None) -> None:
        """Start the job's query through the runner's scoped start: a
        checkpoint on the local file system gets the FileSystem-based
        checkpoint manager (no weaker than the default there; see
        runner._FM_CONF), bounded triggers the size-derived partition
        count. Other schemes and a session-chosen manager keep Spark's
        default, so a durable HDFS/S3 checkpoint behaves as before."""
        sdf = job.build()
        writer = sdf.writeStream
        if job.foreach_batch is not None:
            writer = writer.foreachBatch(job.foreach_batch)
        else:
            writer = writer.format(job.sink_format)
            for k, v in job.sink_options.items():
                writer = writer.option(k, v)
        writer = writer.queryName(query_name or job.name).outputMode(job.output_mode)
        job.query = start_query(sdf, writer, job.checkpoint, job.trigger)
        job.state = "running"

    def start(self, name: str) -> StreamJob:
        """START JOB — (re)start a defined/stopped job."""
        job = self._get(name)
        if job.state == "running":
            return job
        self._start(job)
        return job

    def stop(self, name: str, force: bool = False) -> StreamJob:
        """STOP JOB [FORCE] — terminate; checkpoint retained (restart =
        recovery). The reference's processor treats FORCE as
        graceful-vs-immediate metadata (job.rs:84-115 logs and echoes the
        flag); Spark's ``StreamingQuery.stop()`` is already an immediate
        interrupt, so the flag is recorded on the job, not a different
        code path."""
        job = self._get(name)
        if job.query is not None and job.query.isActive:
            job.query.stop()
        job.state = "stopped"
        job.stop_forced = force
        return job

    def pause(self, name: str) -> StreamJob:
        """PAUSE JOB — stop processing, keep the checkpoint; RESUME continues
        exactly where the offsets log left off."""
        job = self.stop(name)
        job.state = "paused"
        return job

    def resume(self, name: str) -> StreamJob:
        """RESUME JOB — restart from the job's checkpoint."""
        job = self._get(name)
        if job.state == "running":
            return job
        self._start(job)
        return job

    # -- versioned deployment (DEPLOY JOB / ROLLBACK JOB, ast.rs:340-365) --

    def deploy_version(
        self,
        name: str,
        version: str,
        build: PlanBuilder,
        strategy: str = "replace",
        canary_pct: int | None = None,
        sink_format: str = "memory",
        sink_options: dict[str, str] | None = None,
        output_mode: str = "append",
        trigger: dict[str, Any] | None = None,
        foreach_batch: Callable[[DataFrame, int], None] | None = None,
    ) -> StreamJob:
        """DEPLOY JOB name VERSION 'v' STRATEGY s AS <query>.

        Strategy semantics mapped to single-engine Structured Streaming:

        - ``replace`` / ``rolling``: stop the serving version, start the new
          one (the reference's instance-by-instance rollout degenerates to
          this with one engine instance).
        - ``blue_green``: start the new version FIRST (own query name +
          checkpoint), verify it is active, then stop the old — the
          zero-downtime switch order.
        - ``canary``: start the new version ALONGSIDE the old; both run
          until a follow-up deploy/rollback resolves the canary. The
          traffic percentage is recorded; actual traffic splitting is a
          sink/consumer-group concern (reference: Kafka consumer groups),
          not expressible inside one engine.
        """
        strategy = strategy.lower()
        if strategy not in ("blue_green", "canary", "rolling", "replace"):
            raise ValueError(f"unknown deployment strategy: {strategy!r}")
        # NATIVE file sinks (no foreachBatch) commit through Spark's
        # per-directory _spark_metadata log, keyed by batch id from the
        # query's OWN checkpoint. Per-version checkpoints restart batch
        # ids at 0, so a second version writing the SAME directory has
        # its batches silently SKIPPED as the first version's committed
        # replays — the native-sink twin of the shared-b<id> namespace
        # bug the foreachBatch routes fixed with v<version>/ subdirs.
        # foreachBatch routes handle shared paths; native ones must not.
        path = (sink_options or {}).get("path")
        if foreach_batch is None and path:
            norm = _norm_sink_path(path)
            clash = [
                v.version
                for v in self.versions.get(name, [])
                if v.version != version
                and v.foreach_batch is None
                and _norm_sink_path(v.sink_options.get("path", "")) == norm
            ]
            if clash:
                raise ValueError(
                    f"job {name!r} version {version!r} targets the same "
                    f"native file-sink path as version(s) {clash}: Spark's "
                    "_spark_metadata commit log would silently skip the "
                    "new version's restarted batch ids as committed "
                    "replays. Give each version its own sink path, or use "
                    "an update/complete EMIT mode (the foreachBatch "
                    "changelog lays versions out in v<version>/ subdirs)."
                )
        jv = JobVersion(
            version=version,
            build=build,
            strategy=strategy,
            canary_pct=canary_pct,
            sink_format=sink_format,
            sink_options=dict(sink_options or {}),
            output_mode=output_mode,
            trigger=dict(trigger or {"availableNow": True}),
            foreach_batch=foreach_batch,
        )
        self.versions.setdefault(name, []).append(jv)
        return self._activate(name, jv)

    def _activate(self, name: str, jv: JobVersion) -> StreamJob:
        qname = f"{name}__{jv.version}"
        old = self.jobs.get(name)
        new_job = StreamJob(
            name=name,
            build=jv.build,
            sink_format=jv.sink_format,
            sink_options=jv.sink_options,
            output_mode=jv.output_mode,
            checkpoint=os.path.join(self.checkpoint_root, name, jv.version),
            trigger=jv.trigger,
            foreach_batch=jv.foreach_batch,
        )
        if jv.strategy in ("replace", "rolling"):
            if old is not None and old.query is not None and old.query.isActive:
                old.query.stop()
        # blue_green & canary: old keeps running while the new one starts
        self._start(new_job, query_name=qname)
        if jv.strategy == "blue_green":
            if old is not None and old.query is not None and old.query.isActive:
                old.query.stop()
        if jv.strategy == "canary" and old is not None:
            # keep the old version reachable while the canary runs
            self.jobs[f"{name}__prev"] = old
        self.jobs[name] = new_job
        self.current_version[name] = jv.version
        return new_job

    def resolve_rollback_target(
        self, name: str, target_version: str | None = None
    ) -> JobVersion:
        """The version a ROLLBACK will reactivate (default: the last
        deployed version that is not current). Exposed so callers that
        must prepare the target BEFORE the switch (the engine restarts
        and drains a composed job's enrichment first) resolve it the
        same way rollback() will."""
        history = self.versions.get(name, [])
        if not history:
            raise KeyError(f"job {name!r} has no deployed versions")
        current = self.current_version.get(name)
        if target_version is None:
            prior = [v for v in history if v.version != current]
            if not prior:
                raise ValueError(f"job {name!r} has no version to roll back to")
            return prior[-1]
        matches = [v for v in history if v.version == target_version]
        if not matches:
            raise KeyError(f"job {name!r} has no version {target_version!r}")
        return matches[-1]

    def rollback(self, name: str, target_version: str | None = None) -> StreamJob:
        """ROLLBACK JOB name [TO VERSION 'v'] — stop the serving version and
        reactivate the target (default: the previous version)."""
        jv = self.resolve_rollback_target(name, target_version)
        # a rollback is always an immediate switch
        stop_first = JobVersion(
            version=jv.version,
            build=jv.build,
            strategy="replace",
            canary_pct=None,
            sink_format=jv.sink_format,
            sink_options=jv.sink_options,
            output_mode=jv.output_mode,
            trigger=jv.trigger,
            foreach_batch=jv.foreach_batch,
        )
        prev = self.jobs.pop(f"{name}__prev", None)
        if prev is not None and prev.query is not None and prev.query.isActive:
            prev.query.stop()
        return self._activate(name, stop_first)

    def show_versions(self, name: str | None = None) -> list[dict[str, Any]]:
        """SHOW VERSIONS [job] — deployment history with the serving flag."""
        out = []
        for job_name, history in sorted(self.versions.items()):
            if name is not None and job_name != name:
                continue
            for jv in history:
                out.append(
                    {
                        "job": job_name,
                        "version": jv.version,
                        "strategy": jv.strategy
                        + (f"({jv.canary_pct}%)" if jv.canary_pct else ""),
                        "current": self.current_version.get(job_name) == jv.version,
                        "deployed_at": jv.deployed_at,
                    }
                )
        return out

    def wait(self, name: str, timeout_s: int = 300) -> None:
        """Block until the job is done with the input currently available.

        Bounded jobs (availableNow/once triggers — the wait=True deploy
        default) terminate on their own: ``awaitTermination``. CONTINUOUS
        jobs (processingTime triggers — every wait=False deploy since the
        unbounded composition landed) never terminate, so for them WAIT
        means DRAIN: return once the query has completed at least one
        trigger and reports two consecutive quiescent polls (no data
        available, no trigger active), leaving the job running. The old
        unconditional ``awaitTermination(timeout_s)`` slept the FULL
        timeout on a continuous job and returned with no drain guarantee
        (an empty source still quiesces via Spark's no-data progress
        events, default every 10 s)."""
        job = self._get(name)
        q = job.query
        if q is None:
            return
        trig = job.trigger or {}
        try:
            if "processingTime" in trig or "continuous" in trig:
                deadline = time.monotonic() + timeout_s
                quiet = 0
                while q.isActive and time.monotonic() < deadline:
                    status = q.status or {}
                    if (
                        q.lastProgress is not None
                        and not status.get("isDataAvailable")
                        and not status.get("isTriggerActive")
                    ):
                        quiet += 1
                        if quiet >= 2:
                            break
                    else:
                        quiet = 0
                    time.sleep(0.05)
                if not q.isActive:
                    # the query terminated underneath the drain poll —
                    # surface a crash (StreamingQueryException) exactly
                    # like the bounded path's awaitTermination would,
                    # instead of returning cleanly over an empty sink
                    q.awaitTermination(1)
            else:
                q.awaitTermination(timeout_s)
        except Exception:
            job.state = "failed"
            raise
        if not q.isActive and job.state == "running":
            job.state = "stopped"

    # -- introspection (SHOW JOBS / SHOW STREAMS / DESCRIBE) ---------------

    def show_jobs(self) -> list[dict[str, Any]]:
        """SHOW JOBS (ast.rs:471-497) — name/state/progress per job."""
        out = []
        for job in self.jobs.values():
            q = job.query
            active = bool(q is not None and q.isActive)
            if job.state == "running" and not active:
                job.state = "stopped"
            prog = (q.lastProgress or {}) if q is not None else {}
            out.append(
                {
                    "name": job.name,
                    "state": job.state,
                    "active": active,
                    "sink": job.sink_format,
                    "output_mode": job.output_mode,
                    "run_id": str(q.runId) if q is not None else None,
                    "input_rows": prog.get("numInputRows"),
                    "batch_id": prog.get("batchId"),
                }
            )
        return out

    def show_streams(self) -> list[dict[str, Any]]:
        """SHOW STREAMS — every active streaming query in the session
        (including ones not deployed through this manager)."""
        return [
            {"name": q.name, "id": str(q.id), "run_id": str(q.runId), "active": True}
            for q in self.spark.streams.active
        ]

    def describe(self, name: str) -> dict[str, Any]:
        """DESCRIBE <job> — full status + last progress."""
        job = self._get(name)
        q = job.query
        return {
            "name": job.name,
            "state": job.state,
            "checkpoint": job.checkpoint,
            "sink": job.sink_format,
            "output_mode": job.output_mode,
            "trigger": job.trigger,
            "last_progress": (q.lastProgress if q is not None else None),
        }

    def _get(self, name: str) -> StreamJob:
        if name not in self.jobs:
            raise KeyError(f"unknown job: {name!r}")
        return self.jobs[name]
