"""The analytics_sf0.01 workload's corpus and oracle comparison.

``write_corpus`` writes a seeded corpus with the shape and value
domains of the sf0.01 star schema (orders/lineitem/customer/supplier/
nation/region) plus the events, documents and embeddings tables the
query registry reads. Row counts follow sf0.01. ``compare`` is the
registry drive's comparison: same columns, same dtypes, same rows in
any order, floats within 1e-9.

The expected results come from the DuckDB oracle SQL in ``oracles/``,
a copy kept with the benchmark: a change to a query that also changes
the program's own oracle still has to match this one.
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# family -> queries; the family names the end-to-end metric it feeds
FAMILIES = {
    "status": ("q1_pricing_summary", "ev_sessionize"),
    "exact": ("j1_two_hop_traversal",),
    "graph": ("g_pagerank",),
    "semantic": ("v2_cosine_topk",),
    "store": ("st_hourly_agg", "st_sample_fixed_k"),
}
QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "events", "documents", "embeddings")

ROWS = {"customer": 1500, "supplier": 100, "orders": 15000, "lineitem": 60000,
        "events": 10000, "documents": 500, "embeddings": 500}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "zh", "de", "es", "fr")
DOC_WORDS = (
    "a the data query table join hash row batch scan column filter small slow "
    "merge order vector line agg value key stream window spark part group big "
    "sort fast customer"
).split()
EMBED_DIM = 64
DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - DAY0).days
ORACLE_DIR = Path(__file__).resolve().parent / "oracles"


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    ts = np.datetime64(DAY0, "us") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))


def corpus(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        # exactly 4 suppliers per nation, so the supplier rings the graph
        # queries walk have the same size for every seed
        "s_nationkey": pa.array(rng.permutation(np.arange(n["supplier"]) % 25), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days(rng, n["orders"], ORDER_DAYS),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), li),
        "l_linestatus": rng.choice(("F", "O"), li),
        "l_shipdate": _days(rng, li, ORDER_DAYS + 95),
    })
    ev = n["events"]
    gaps = rng.exponential(259.0, ev)  # seconds; ~30 days over 10k events
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(range(ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": _money(rng, 0.01, 490.0, ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })
    texts: list[str] = []
    for i in range(n["documents"]):
        if i >= 20 and i % 20 == 8:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"]),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n["embeddings"], EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })
    return t


def write_corpus(seed: int, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in corpus(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def oracle_sql(query: str) -> str:
    return (ORACLE_DIR / f"{query}.sql").read_text()


def oracle_frames(sf_dir: str, oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {q: con.execute(sql).df() for q, sql in oracles.items()}
    finally:
        con.close()


def compare(sp: pd.DataFrame, dp: pd.DataFrame) -> str | None:
    """None when equal the way the registry drive compares; else why."""
    sp = sp[sorted(sp.columns)]
    dp = dp[sorted(dp.columns)]
    if list(sp.columns) != list(dp.columns):
        return f"columns {list(sp.columns)} vs {list(dp.columns)}"
    if list(map(str, sp.dtypes)) != list(map(str, dp.dtypes)):
        return f"dtypes {list(map(str, sp.dtypes))} vs {list(map(str, dp.dtypes))}"
    if len(sp) != len(dp):
        return f"rows {len(sp)} vs {len(dp)}"
    sp = sp.sort_values(by=list(sp.columns)).reset_index(drop=True)
    dp = dp.sort_values(by=list(dp.columns)).reset_index(drop=True)
    if sp.equals(dp):
        return None
    for c in sp.columns:
        a, b = sp[c], dp[c]
        if a.dtype.kind == "f":
            close = (a.isna() == b.isna()) & (
                (a.fillna(0) - b.fillna(0)).abs() <= 1e-9 + 1e-9 * b.fillna(0).abs()
            )
            if not close.all():
                return f"values differ in {c}"
        elif not a.equals(b):
            return f"values differ in {c}"
    return None
