"""Deterministic sf0.1 corpus for the benchmark.

Writes the ten corpus tables (`archetype_spark.tables.TABLES`) as one
parquet file each, so the benchmark needs no data outside its own
checkout. Against the project's sf0.1 test corpus (TESTDATA.md) the
tables have the same column names and types and the same row counts;
every text column has the same number of distinct values and every
numeric and date column the same range, except `events.ts`,
`events.value` and document lengths, which differ at the edges.
Documents use the same 30-word vocabulary with 5% near-duplicates,
embeddings are unit 64-d vectors. perfbench/README.md compares
per-query times and result sizes on the two corpora. Values are drawn
from a fixed seed; the same seed always writes byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at sf0.1 (fixed-size dimension tables do not scale).
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = "blue cold hot large old red small bright".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _ts(rng, start: dt.datetime, end: dt.datetime, n: int, unit: str = "D"):
    span = (end - start).days if unit == "D" else int((end - start).total_seconds() * 1e6)
    off = rng.integers(0, span + 1, n)
    base = np.datetime64(start, "us")
    return base + (off.astype("timedelta64[D]") if unit == "D" else off.astype("timedelta64[us]"))


def _money(rng, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng) -> dict[str, pa.Table]:
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": types[rng.integers(0, len(types), n["part"])],
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    m = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(m, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], m),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, m)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, m),
        "o_orderdate": _ts(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), m),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, m)],
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, m, k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
        "l_shipdate": _ts(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), k),
    })
    e = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.sort(_ts(rng, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31), e, "us")),
        "user_id": rng.integers(0, 1500, e),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, e)
        ],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, e)],
    })
    out["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    vecs = rng.standard_normal((v, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, v).astype(np.int32),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    """Random word texts over a small vocabulary; 5% of documents are a
    near-duplicate of another (its text plus a ` dup` token), and a few
    of those are repeated verbatim, so the dedup queries find work."""
    texts = [
        " ".join(rng.choice(_VOCAB, size=int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    pairs = rng.permutation(n)[: 2 * (n // 20)].reshape(-1, 2)
    for dup, base in pairs:
        texts[dup] = texts[base] + " dup"
    for dup, base in pairs[:8]:
        texts[base] = texts[dup]
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_corpus(out_dir: str, seed: int = 42) -> None:
    """Write every table to `out_dir/<name>.parquet` (atomically per
    file, so an interrupted run never leaves a truncated table)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(np.random.default_rng(seed)).items():
        if table.num_rows != ROWS[name]:
            raise ValueError(f"{name}: {table.num_rows} rows, want {ROWS[name]}")
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
