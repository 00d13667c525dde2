"""Seeded generators for the benchmark's input tables.

``write_tables`` writes the ten catalog tables (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``) in the exact column names and
parquet types the catalog and its DuckDB oracles expect. ``write_corpus``
replaces ``documents`` with a larger curation corpus that carries fixed
shares of exact duplicates, near duplicates and PII spans. The same seed
always gives byte-identical inputs; the engine only ever sees the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the benchmark scale (the shape of a 0.01 scale factor).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "small", "large", "hot", "cold", "new", "old")
PART_NOUN = ("widget", "bolt", "gear", "ring", "plate", "rod", "gizmo", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return _ts(rng.integers(lo, hi + 1, n) * _DAY_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def _documents(rng: np.random.Generator, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every catalog table for ``seed`` into ``out_dir``; return the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    c = n["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, c)]),
    }))
    s = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    }))
    p = n["part"]
    adj, noun = rng.integers(0, 8, p), rng.integers(0, 8, p)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10, 1)),
    }))
    o = n["orders"]
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, o)),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, o)]),
    }))
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(18, 2100, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, li)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, li)]),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    }))
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, e))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, e)]),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    }))
    _write(out_dir, "documents", _documents(rng, _texts(rng, n["documents"])))
    m = n["embeddings"]
    vec = rng.normal(size=(m, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    }))
    return dict(n, region=5, nation=25)


#: Shares of the curation corpus: each generated document is, in this
#: order of precedence, an exact copy of an earlier document, a near copy
#: (a few words replaced), or fresh text; independently a share carries PII.
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
PII_SHARE = 0.05


def _pii(rng: np.random.Generator, i: int) -> str:
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return f"mail user{i}@example.org"
    if kind == 1:
        return f"call +1-555-{int(rng.integers(1000000, 9999999))}"
    return f"see https://ex.com/p/{i}"


def corpus_texts(seed: int, n_docs: int) -> list[str]:
    """The curation corpus: ``n_docs`` texts from the catalog vocabulary
    with the duplicate, near-duplicate and PII shares above."""
    rng = np.random.default_rng([seed, 1])
    texts = _texts(rng, n_docs)
    roll = rng.random(n_docs)
    for i in range(1, n_docs):
        if roll[i] < EXACT_DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))]
        elif roll[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(words)
    for i in np.flatnonzero(rng.random(n_docs) < PII_SHARE):
        words = texts[i].split()
        words.insert(int(rng.integers(0, len(words) + 1)), _pii(rng, int(i)))
        texts[i] = " ".join(words)
    return texts


def write_corpus(out_dir: str, seed: int, n_docs: int) -> dict[str, int]:
    """Write the catalog tables for ``seed`` with ``documents`` replaced by
    the ``n_docs``-document curation corpus."""
    counts = write_tables(out_dir, seed)
    rng = np.random.default_rng([seed, 2])
    _write(out_dir, "documents", _documents(rng, corpus_texts(seed, n_docs)))
    counts["documents"] = n_docs
    return counts
