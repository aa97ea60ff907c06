"""Seeded input tables for the benchmark.

Writes the ten base tables the query registry reads (`sources.tables.TABLES`)
as one-row-group parquet files, in the schema and value domains of the
engine's TPC-H-ish fixtures. Everything is drawn from one
`numpy.random.Generator` seeded by the workload seed, so the same seed gives
byte-identical inputs and a different seed gives a different graph, corpus
and key layout at the same sizes.

`scale` follows TPC-H's scale factor: lineitem has 6,000,000 × scale rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

EPOCH_1995 = np.datetime64("1995-01-01", "D")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_days, hi_days, n):
    d = EPOCH_1995 + rng.integers(lo_days, hi_days, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pq.write_table(pa.table(cols), tmp, row_group_size=1 << 30)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n_docs: int):
    """Word-salad documents over a 30-word vocabulary, with exact and
    `dup`-suffixed near-duplicates of earlier documents injected."""
    lengths = rng.integers(10, 101, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(words[pos : pos + n]))
        pos += n
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.05:  # near-duplicate of an earlier document
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:  # exact duplicate
            texts[i] = texts[int(rng.integers(0, i))]
    return texts


def generate(out_dir: str, seed: int, scale: float) -> None:
    """Write every base table for (seed, scale) into `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(int(10_000 * scale), 25)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = int(50_000 * scale)
    n_vecs = int(20_000 * scale)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(part_names)[rng.integers(0, len(part_names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, 1, 2499, n_line),
    })
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": EPOCH_2024 + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_events // 66, 10), n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
