"""Seeded tables for the catalog round of the traced ``gmail_daily`` run.

Writes the catalog's TPC-H-shaped star schema plus the ``events``,
``documents`` and ``embeddings`` tables, one parquet file each, with the
column names and types of the catalog's reference data (``events.ts``
is TIMESTAMP(NANOS), ``embeddings.embedding`` is ``list<float>``).  Only
the tables the workload's queries read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def generate(out_dir: str, seed: int, lineitem_rows: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    n_orders = max(10, lineitem_rows // 4)
    n_cust = max(10, n_orders // 10)
    n_events = max(10, lineitem_rows // 4)
    n_docs, n_vecs, dim, centers = 3000, 2000, 64, 200

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-07-31", n_orders),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": np.sort(rng.integers(0, n_orders, lineitem_rows)).astype(np.int64),
        "l_partkey": rng.integers(0, 20000, lineitem_rows).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, lineitem_rows).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, lineitem_rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, lineitem_rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, lineitem_rows), 2),
        "l_discount": rng.integers(0, 11, lineitem_rows) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem_rows) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lineitem_rows),
        "l_linestatus": rng.choice(["F", "O"], lineitem_rows),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", lineitem_rows),
    })
    month_ns = 30 * 24 * 3600 * 10**9
    ts = np.datetime64("2024-01-01", "ns") + np.sort(rng.integers(0, month_ns, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 500, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.1:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_tok = int(rng.integers(20, 80))
            texts.append(" ".join(rng.choice(_WORDS, n_tok)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    # tight clusters of ~10 vectors: each vector's exact top-10 is mostly
    # its own cluster, which an IVF-PQ index can find; label (the IVF
    # cell of q51) groups 20 clusters
    center = rng.integers(0, centers, n_vecs)
    ctr = rng.uniform(-1, 1, (centers, dim))
    vecs = (ctr[center] + rng.normal(0, 0.05, (n_vecs, dim))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": (center % 10).astype(np.int32),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}
