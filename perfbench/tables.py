"""Seeded generator for the relational input of the ``analytic`` workload.

Writes the ten tables ``__spark_entry__`` queries read (TPC-H-like
star schema plus events, documents and embeddings), one parquet file each,
in the column types the queries and their DuckDB oracles expect.  Sizes
follow scale factor 0.1 of that schema, times an optional ``scale``.  The
same seed gives the same bytes.  Properties the oracles rely on are kept:
part keys are dense from 0 (the chain graph links key k to k+1), names
carry no characters that need N-Triples escaping, and document lengths
equal ``n_chars``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge order "
         "part query row scan slow small sort spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
EMBED_DIM = 64
DAY_US = 86_400_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(rng: np.random.Generator, scale: float = 1.0) -> dict[str, pa.Table]:
    """``scale`` multiplies every scale-factor-0.1 row count."""
    n = {k: max(20, int(v * scale)) for k, v in SF01_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(COLORS, p), rng.choice(NOUNS, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    lo, hi = _epoch_us("1995-01-01"), _epoch_us("2001-08-01")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(lo + rng.integers(0, (hi - lo) // DAY_US, o) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(lo + rng.integers(0, (hi - lo) // DAY_US, li) * DAY_US),
    })
    e = n["events"]
    start = _epoch_us("2024-01-01")
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * DAY_US, e))),
        "user_id": rng.integers(0, 1500, e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    vecs = rng.normal(size=(m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    })
    return t


def write(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Generate and write every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in generate(np.random.default_rng(seed), scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
