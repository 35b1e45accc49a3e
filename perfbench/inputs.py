"""Seeded input tables for the benchmark.

Writes the ten tables the package reads (`sources.TABLE_NAMES`) as one
parquet file each, one row group per file, with the shapes and value
domains of the TPC-H-ish star schema plus the `events`, `documents`
and `embeddings` tables the engine is built for. Continuous values
keep full double precision: values quantized to cents make averages
land exactly on the rounding boundaries of the 6-decimal outputs,
where Spark and the DuckDB oracle may round apart. Row counts scale
linearly with `scale` like the reference data (scale 0.1: 600k
lineitem rows); `documents` and `embeddings` never drop below 500
rows. The same (seed, scale) always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "bolt", "hot", "large", "nut", "red", "ring", "steel")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.11, 0.56, 0.11, 0.11, 0.11)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
# 30 events for every user: enough bars for the 25-bar indicators, while
# the recursive DuckDB oracles of the per-user event queries, whose cost
# grows much faster than linearly in a user's event count, stay near a
# second
EVENTS_PER_USER = 30
EMB_DIM = 64
N_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _days_ts(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    base = _us(dt.datetime.combine(lo, dt.time()))
    return pa.array(base + days * 86_400_000_000, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1
    )


def _texts(rng, n: int) -> list[str]:
    """Space-joined vocabulary words; ~5% near-duplicates (an earlier
    doc with one or two words replaced) and ~0.2% exact copies, so the
    dedup and jaccard queries find pairs."""
    out: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            out.append(out[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.05:
            words = out[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out.append(" ".join(words))
            continue
        k = int(rng.integers(8, 101))
        out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out


def write_inputs(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under `out_dir`; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp),
    })
    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.uniform(1_000.0, 500_000.0, n_ord),
        "o_orderdate": _days_ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": rng.uniform(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days_ts(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    n_users = max(1, n_ev // EVENTS_PER_USER)
    t0 = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.permutation(np.arange(n_ev) % n_users), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": rng.exponential(40.0, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n_emb)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
