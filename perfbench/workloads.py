"""The closed-loop workloads, and what every workload reports.

Closed loops (one client that waits for each result) over catalog entries
from ``velostream_spark.registry.all_queries()``:

- ``sql_adhoc``: SQL-family entries on the generated star schema. Every
  entry is issued fresh (derive, then first execution), then its plan is
  executed once more.
- ``corpus_curation``: the LLM-data-pipeline entries and the codec
  round-trips on a generated corpus with duplicate, near-duplicate and PII
  shares.
- ``stream_bounded``: the run-to-completion streaming entries.

Open loop: ``stream_live`` (see ``live.py``).

A pass issues every entry once, in an order the seed permutes. Warm-up
passes (JIT, first-touch class loading) are discarded; measured passes then
run for the requested seconds. The SQL and streaming loops warm up for
four passes: with two, the first measured ``stream_bounded`` passes of some
runs still took 5.3-6.7 s where later ones settled at 4.1-4.4 s. Entry
lists are sized so a run, Spark start included, stays near 65 s on four
shared cores (a traced run, with its single-core baseline, near 100 s),
which keeps ten runs per workload and seed sweeps affordable.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from checks import check_entry
from stats import median
from layertrace import LayerAcc, Tracing, layer_metrics

SQL_ADHOC = (
    "select_where", "group_by_agg", "count_distinct", "decimal_arithmetic",
    "stream_table_join", "interval_join",
    "scalar_exists_subquery", "in_not_in_subquery",
    "lag_lead", "tumbling_window",
    "dialect_asof_select", "dialect_rows_window_over", "dialect_functions_select",
)

CORPUS_CURATION = (
    "dedup_exact", "simhash_pairs", "span_dedup", "pii_scrub",
    "gopher_quality_filter", "doc_chunking", "quality_classifier_score",
    "bpe_encode", "tfidf_topk_terms", "bigram_lm_score",
    "sequence_packing_ffd", "curation_pipeline",
    "avro_roundtrip", "protobuf_roundtrip",
)

#: Five of the thirteen run-to-completion entries: the state store, a
#: Python-worker stateful operator (``streaming_session_join``) and the SQL
#: engine (``dialect_tumbling_changes_stream``) are all reached. The other
#: eight (``streaming_{rows_window,asof_join,range_join,classifier_gate}``,
#: ``dialect_{groupby_changes,interval,asof,range}_stream``) took 12.3 s more
#: per pass than these five (7.0 s) on the generated tables, four cores:
#: with four warm-up passes a run, and its traced single-core baseline, would
#: no longer fit the benchmark's time per run.
STREAM_BOUNDED = (
    "streaming_tumbling_final", "streaming_group_by_changes",
    "streaming_session_join", "streaming_pii_gate",
    "dialect_tumbling_changes_stream",
)

#: Documents in the curation corpus.
CORPUS_DOCS = 2000
#: Copies of the input tables registered during set-up (setup_s reports the
#: median registration).
SETUP_REPEATS = 3


@dataclass(frozen=True)
class CatalogSpec:
    entries: tuple[str, ...]
    rerun: bool
    warmup: int
    #: the workload's own name for the median pass wall
    pass_name: str
    corpus_docs: int | None = None


SPECS = {
    "sql_adhoc": CatalogSpec(SQL_ADHOC, True, 4, "sql_fresh_pass_s"),
    "corpus_curation": CatalogSpec(
        CORPUS_CURATION, False, 1, "curation_pass_s", corpus_docs=CORPUS_DOCS
    ),
    "stream_bounded": CatalogSpec(STREAM_BOUNDED, False, 4, "bounded_pass_s"),
}

#: Entries of the smoke mode (the benchmark's own tests).
SMOKE_ENTRIES = 3


@dataclass
class Result:
    """What one workload run measured."""

    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: the workload's own named figures (printed, recorded, not scored)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: dict[str, str] = field(default_factory=dict)
    record: dict = field(default_factory=dict)


def _setup_tables(spark, work: str, seed: int, corpus_docs: int | None, repeats: int):
    """Generate the inputs once, then register ``repeats`` copies; return
    the directory used by the passes and the registration walls."""
    import datagen
    from velostream_spark.session import load_tables

    src = os.path.join(work, "data", "gen")
    if corpus_docs:
        datagen.write_corpus(src, seed, corpus_docs)
    else:
        datagen.write_tables(src, seed)
    walls = []
    data_dir = src
    for i in range(repeats):
        data_dir = os.path.join(work, "data", f"copy{i}")
        shutil.copytree(src, data_dir)
        t0 = time.perf_counter()
        load_tables(spark, data_dir, register_views=True)
        walls.append(time.perf_counter() - t0)
    return data_dir, walls


def run_catalog(ctx, name: str) -> Result:
    """A closed-loop catalog workload (``sql_adhoc``, ``corpus_curation``,
    ``stream_bounded``)."""
    from velostream_spark.registry import all_queries

    spec = SPECS[name]
    entries = spec.entries[:SMOKE_ENTRIES] if ctx.smoke else spec.entries
    warmup = 0 if ctx.smoke else spec.warmup
    repeats = 1 if ctx.smoke else SETUP_REPEATS
    catalog = all_queries()
    res = Result()

    spark, start_s = ctx.start_session(ctx.nproc)
    data_dir, setup_walls = _setup_tables(
        spark, ctx.work, ctx.seed, spec.corpus_docs, repeats
    )
    res.metrics["setup_s"] = (start_s + median(setup_walls), "s")
    rng = random.Random(ctx.seed)
    errors: dict[str, str] = {}
    outputs: dict[str, object] = {}  # entry → its last result (pandas)

    def one_pass(tracer=None, rerun_too=spec.rerun):
        """Issue every entry once in a seeded order: derive, then run to the
        client; with ``rerun_too`` run the same plan once more."""
        order = rng.sample(entries, len(entries))
        fresh = rerun = 0.0
        ops: list[tuple[str, float]] = []
        for entry in order:
            fn = catalog[entry].fn
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = fn(spark, data_dir)
                    out = df.toPandas()
                    t1 = time.perf_counter()
                    if rerun_too:
                        out = df.toPandas()
                else:
                    with tracer.span(entry, "queries"):
                        df = fn(spark, data_dir)
                    with tracer.span(f"execute:{entry}", "exec"):
                        out = df.toPandas()
                    t1 = time.perf_counter()
                    if rerun_too:
                        with tracer.span(f"rerun:{entry}", "exec"):
                            out = df.toPandas()
                outputs[entry] = out
            except Exception as ex:  # a failing entry is counted, not dropped
                errors.setdefault(entry, f"{type(ex).__name__}: {ex}"[:500])
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            fresh += t1 - t0
            rerun += t2 - t1
            ops.append((entry, t1 - t0))
        return fresh, rerun, ops

    t_warm = time.perf_counter()
    for _ in range(warmup):
        one_pass(rerun_too=False)
    errors.clear()
    res.record["warmup_wall_s"] = round(time.perf_counter() - t_warm, 3)

    fresh_walls, rerun_walls, op_walls = [], [], []
    entry_walls: dict[str, list[float]] = {}
    layer_acc = LayerAcc()
    tracing = Tracing(spark) if ctx.trace else None
    t_start = time.perf_counter()
    i = 0
    untraced_walls, traced_walls = [], []
    while True:
        use_trace = tracing is not None and i % 2 == 1
        if use_trace:
            tracing.begin()
            t0 = time.perf_counter()
            fresh, rerun, ops = one_pass(tracing.tracer)
            t1 = time.perf_counter()
            tracing.end(t0, t1, layer_acc)
            traced_walls.append(fresh)
        else:
            fresh, rerun, ops = one_pass()
            untraced_walls.append(fresh)
            fresh_walls.append(fresh)
            rerun_walls.append(rerun)
            op_walls.extend(w for _, w in ops)
            for entry, w in ops:
                entry_walls.setdefault(entry, []).append(w)
        i += 1
        elapsed = time.perf_counter() - t_start
        enough = untraced_walls and (tracing is None or traced_walls)
        if elapsed >= ctx.seconds and enough:
            break
    measured = len(untraced_walls)

    # Output checks, outside every timed region.
    t_check = time.perf_counter()
    failed_entries: dict[str, str] = dict(errors)
    for entry in entries:
        if entry in failed_entries or entry not in outputs:
            continue
        try:
            problems = check_entry(
                catalog[entry], outputs[entry], data_dir, corrupt=entry == ctx.corrupt
            )
        except Exception as ex:
            problems = [f"check raised {type(ex).__name__}: {ex}"[:500]]
        if problems:
            failed_entries[entry] = "; ".join(problems)[:500]
    res.record["check_wall_s"] = round(time.perf_counter() - t_check, 3)
    ops_per_pass = len(entries) * (2 if spec.rerun else 1)
    res.attempted = ops_per_pass * measured
    res.failed = sum(
        (2 if spec.rerun else 1) * measured for e in entries if e in failed_entries
    )
    res.failures = failed_entries

    pass_s = median(fresh_walls)
    res.metrics["wait_s"] = (pass_s, "s")
    res.named["op_p50_ms"] = (median(op_walls) * 1e3, "ms")
    res.named[spec.pass_name] = (pass_s, "s")
    if spec.rerun:
        res.named["sql_rerun_pass_s"] = (median(rerun_walls), "s")
    res.named["failed_frac"] = (res.failed / max(1, res.attempted), "ratio")
    res.record.update(
        warmup_passes_discarded=warmup,
        measured_passes=measured,
        pass_walls_s=[round(w, 4) for w in fresh_walls],
        rerun_walls_s=[round(w, 4) for w in rerun_walls] if spec.rerun else None,
        op_samples=len(op_walls),
        entry_median_ms={e: round(median(w) * 1e3, 1) for e, w in entry_walls.items()},
        setup_walls_s=[round(w, 4) for w in setup_walls],
        session_start_s=round(start_s, 4),
    )

    if tracing is not None:
        tracing.close()
        overhead = median(traced_walls) / median(untraced_walls) - 1.0
        res.layers = layer_metrics(layer_acc, overhead, start_s, median(setup_walls))
        res.record["traced_walls_s"] = [round(w, 4) for w in traced_walls]
        res.record["spans_file"] = tracing.tracer.write(
            os.path.join(ctx.results_dir, f"spans-{name}-{ctx.seed}.json"))
        # single-core baseline: same inputs, warm-up and number of measured
        # passes as the untraced local[nproc] passes
        ctx.stop_session()
        spark, _ = ctx.start_session(1)
        from velostream_spark.session import load_tables

        load_tables(spark, data_dir, register_views=True)
        for _ in range(warmup):
            one_pass(rerun_too=False)
        walls1 = [one_pass()[0] for _ in untraced_walls]
        res.layers["baseline.local1_wait_s"] = (median(walls1), "s")
        res.layers["baseline.localN_wait_s"] = (median(untraced_walls), "s")
        res.record["baseline"] = {
            "warmup_passes_discarded": warmup,
            "local[1]_walls_s": [round(w, 4) for w in walls1],
            f"local[{ctx.nproc}]_walls_s": [round(w, 4) for w in untraced_walls],
        }
    return res
