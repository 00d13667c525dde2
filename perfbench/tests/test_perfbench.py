"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark: each runs a workload for about a second with no
warm-up and checks the result line against ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import datagen  # noqa: E402
from checks import corrupt_first_row  # noqa: E402
from stats import percentile, quartile_spread  # noqa: E402

from run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# ---- percentile helper -------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90  # exactly ten beyond
    assert percentile(xs, 91) is None  # nine beyond
    assert percentile(xs, 99) is None
    assert percentile(list(range(1000)), 99) == 989


def test_percentile_of_too_few_samples_is_none():
    assert percentile([], 50) is None
    assert percentile([1.0] * 5, 50) is None


def test_quartile_spread_is_relative_to_median():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


# ---- generators and checks ---------------------------------------------------


def test_generated_tables_depend_only_on_the_seed(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    datagen.write_tables(str(a), 7)
    datagen.write_tables(str(b), 7)
    datagen.write_tables(str(c), 8)
    for name in ("lineitem", "events", "documents"):
        ta, tb, tc = (pq.read_table(d / f"{name}.parquet") for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)


def test_corpus_has_duplicate_and_pii_shares():
    texts = datagen.corpus_texts(3, 2000)
    dup_share = 1 - len(set(texts)) / len(texts)
    assert 0.05 < dup_share < 0.2
    pii = sum(("@" in t) or ("https://" in t) or ("+1-555-" in t) for t in texts)
    assert 0.02 * len(texts) < pii < 0.1 * len(texts)


def test_a_corrupted_row_fails_the_compare():
    from tests.oracle import compare_frames

    df = pd.DataFrame({"k": np.arange(5), "v": ["a", "b", "c", "d", "e"]})
    assert compare_frames(df, df.copy()) == []
    assert compare_frames(corrupt_first_row(df), df) != []
    assert compare_frames(corrupt_first_row(df.iloc[:0]), df.iloc[:0]) != []


# ---- smoke runs --------------------------------------------------------------


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


def _expected(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_reports_every_end_to_end_metric(workload):
    line, stdout = _run(workload, 0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == _expected("end_to_end")
    assert all(v["value"] > 0 for v in line["metrics"].values())
    assert "failed_frac = 0 ratio" in stdout


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_run_reports_every_layer_metric(workload):
    from layertrace import LIVE_LAYER_METRICS

    line, _ = _run(workload, 1)
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    expected = _expected("per_layer")
    if workload == "stream_live":
        expected.update(LIVE_LAYER_METRICS)
        assert "state.agg.commit_ms" in got
        assert not any(k.startswith("state.enrich") for k in got)
    assert got == expected
    m = {k: v["value"] for k, v in line["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["session.start_s"] > 0
    if workload == "sql_adhoc":  # the control: no Python worker, no streams
        assert m["pyworker.run_ms"] == 0
        assert m["streaming.bounded.batches"] == 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_a_corrupted_output_row_raises_failed_frac(workload):
    from workloads import SPECS

    target = SPECS[workload].entries[0] if workload in SPECS else "agg"
    line, stdout = _run(workload, 0, "--corrupt", target)
    assert line["correct"] is False
    assert 0 < line["failed"] < line["attempted"]
    assert f"FAILED {target}:" in stdout


def test_bare_directory_fails_without_a_result(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_an_unwrapped_wait_inside_a_pass_raises_the_unaccounted_share():
    import time

    from layertrace import Tracer, unaccounted_frac

    def traced_pass(unwrapped_s: float) -> float:
        tracer = Tracer()
        t0 = time.perf_counter()
        with tracer.span("entry", "queries"):  # the benchmark's catch-all
            with tracer.span("SqlEngine.execute", "sql.engine"):
                time.sleep(0.05)
            time.sleep(unwrapped_s)
        t1 = time.perf_counter()
        spark_side = [(t1 - 0.01, t1)]  # e.g. a Spark job at the end
        return unaccounted_frac(tracer, t0, t1, spark_side)

    assert traced_pass(0.0) < 0.1
    share = traced_pass(0.1)
    assert 0.45 < share < 0.75  # ~0.1 s of ~0.15 s is in no layer


def test_sql_metric_strings_parse_to_base_units():
    from layertrace import parse_metric

    assert parse_metric("32,496") == 32496
    assert parse_metric("1.5 KiB") == 1536
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.2 s (10 ms, 20 ms, 1.1 s)") == 1200
    assert parse_metric("0.0 B") == 0
