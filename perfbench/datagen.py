"""Seeded generator for the ten catalog tables (region ... embeddings).

Mirrors the shape of the catalog's reference testdata: the same columns,
parquet types and value domains, and the same near-duplicate structure in
``documents`` (about 5% of docs are a copy of another doc plus the token
``dup``). Row counts follow the testdata's scale factor ``sf``:
lineitem 6,000,000 x sf, documents 50,000 x sf, and so on. The same seed
always yields byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_TS = pa.timestamp("us")


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    base = np.datetime64(start, "us")
    span = (end - start).days + 1
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def documents(rng, n: int) -> pa.Table:
    """Bag-of-words docs (10-99 tokens from a 30-word vocabulary); ~5% are
    near-copies of another doc with ``dup`` appended."""
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(_pick(rng, VOCAB, k)))
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate(out_dir: Path, sf: float, seed: int) -> dict[str, int]:
    """Write ``<table>.parquet`` for all ten tables; returns row counts."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(round(500 * (sf / 0.01) ** 0.6))  # 500 at sf0.01, ~2,000 at sf0.1

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    names = [
        f"{a} {b}"
        for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))
    ]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": pa.array(
                _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), _TS
            ),
            "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li), pa.string()),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_li), pa.string()),
            "l_shipdate": pa.array(
                _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), _TS
            ),
        }
    )
    # events: one stream over 30 days, in time order, ids follow ts
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    types = _pick(rng, EVENT_TYPES, n_ev)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), _TS),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev).astype(np.int64),
            "event_type": pa.array(types, pa.string()),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    tables["documents"] = documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
