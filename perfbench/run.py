"""Benchmark of the velostream-spark engine.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (``BENCHMARK.json`` says why
each was chosen): ``sql_adhoc``, ``corpus_curation``, ``stream_bounded``
(closed loops over catalog entries) and ``stream_live`` (an open loop of
two continuous jobs fed by a separate generator process).

End-to-end metrics, reported by every workload:

- ``setup_s``: session start plus the median of the repeated set-up step
  (registering the tables, three copies; deploying the agg job, three times).
- ``wait_s``: the median wait for the workload's unit of work. Closed loops:
  one pass, the sum of derive + first run of every entry (``bounded_pass_s``,
  ``sql_fresh_pass_s``, ``curation_pass_s``). ``stream_live``: one agg result,
  from the creation of its newest event to its emission (``live_agg_p50_ms``).

Workload-specific figures (``op_p50_ms``, the median derive + first run of
one entry; ``sql_rerun_pass_s``; ``live_{agg,enrich}_{p50,p99}_ms``;
``live_second_done_s``, the median time from the end of each generated second
until both live jobs emitted all its events; ``live_missed_frac``;
``failed_frac``) are printed by name and recorded, not scored.

The seed makes every input; the engine only receives the generated files.
Spark runs as ``local[nproc]``. With ``--trace 0`` the last stdout line is
the end-to-end result; with ``--trace 1`` the run alternates untraced and
traced passes, reports the per-layer metrics, the share of wall no layer
accounts for and the tracing overhead, then repeats the workload once on
``local[1]`` as the single-core baseline. Every run also prints its
workload-specific figures by name and a run record (git HEAD, nproc,
versions, steal %, warm-up passes discarded), and writes the record to
``.perfbench/results/``. Scratch files live under ``.perfbench/`` in the
checkout and are removed at exit.

The run-to-completion streaming helpers put their throwaway checkpoints and
state stores on tmpfs (``/dev/shm``) by default. The benchmark writes only
inside its checkout, so it points them there too: ``bounded_pass_s`` is
measured on the checkout's file system, which the run record names
(``scratch_fs``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_adhoc", "corpus_curation", "stream_bounded", "stream_live")
DRIVER_MEM = "3g"


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _git_head() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Context:
    """One benchmark run: arguments, scratch directory and the Spark
    session lifecycle."""

    def __init__(self, args, work: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.corrupt = args.corrupt
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.results_dir = os.path.join(ROOT, ".perfbench", "results")
        self.spark = None

    def start_session(self, cores: int):
        """Start ``local[cores]``; return (session, seconds taken)."""
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        from velostream_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session(
            f"perfbench-{self.workload}",
            **{
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                # no hsperfdata file in the system temp directory
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            },
        )
        return self.spark, time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _fs_type(path: str) -> str:
    """File system type of the mount that holds ``path``."""
    path, best, fs = os.path.realpath(path), "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            mnt, typ = line.split()[1:3]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best):
                best, fs = mnt, typ
    return fs


def _prepare_env(work: str) -> None:
    """Keep every file the engine writes inside the checkout, and let the
    Python workers import the engine."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [ROOT, HERE]
    # the run-to-completion helpers put throwaway checkpoints on tmpfs by
    # default; keep them in the checkout like every other scratch file. A
    # runner without this setting would silently write elsewhere and measure
    # another file system, so that stops the run.
    from velostream_spark.streaming import runner

    if not hasattr(runner, "_SCRATCH"):
        raise RuntimeError("velostream_spark.streaming.runner has no _SCRATCH: "
                           "the benchmark cannot place its checkpoints")
    runner._SCRATCH = os.path.join(work, "tmp")


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="seconds-long run: no warm-up, a few entries")
    ap.add_argument("--corrupt", default=None,
                    help="corrupt one output row of this entry or live job "
                         "before its check (tests the check)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "velostream_spark")):
        print(f"velostream_spark not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    ctx = Context(args, work)
    os.makedirs(ctx.results_dir, exist_ok=True)
    cpu0 = _cpu_times()
    t0 = time.time()
    try:
        _prepare_env(work)
        scratch_fs = _fs_type(work)
        if args.workload == "stream_live":
            from live import run_live

            res = run_live(ctx)
        else:
            from workloads import run_catalog

            res = run_catalog(ctx, args.workload)
    finally:
        try:
            ctx.stop_session()
            _shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    cpu1 = _cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    steal_pct = 100.0 * d[7] / max(1, sum(d))

    import pyarrow
    import pyspark

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "git_head": _git_head(),
        "nproc": ctx.nproc, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "steal_pct": round(steal_pct, 3),
        "scratch_fs": scratch_fs,
        "run_wall_s": round(time.time() - t0, 3),
        "attempted": res.attempted, "failed": res.failed,
        "failures": res.failures,
        "metrics": {k: v for k, (v, _) in res.metrics.items()},
        "named": {k: v for k, (v, _) in res.named.items()},
        "layers": {k: v for k, (v, _) in res.layers.items()} or None,
        **res.record,
    }
    path = os.path.join(
        ctx.results_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{int(t0)}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    shown = res.layers if args.trace else res.metrics
    for name, (v, unit) in {**res.metrics, **res.named}.items():
        print(f"{name} = {_fmt(v)} {unit}")
    for entry, why in res.failures.items():
        print(f"FAILED {entry}: {why}")
    if args.trace:
        for name, (v, unit) in res.layers.items():
            print(f"{name} = {_fmt(v)} {unit}")
    print("record " + json.dumps({k: record[k] for k in (
        "git_head", "nproc", "spark", "pyarrow", "steal_pct", "scratch_fs",
        "run_wall_s")}
        | {"warmup": res.record.get("warmup_passes_discarded",
                                     res.record.get("warmup_s")),
           "file": os.path.relpath(path, ROOT)}))
    line = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
