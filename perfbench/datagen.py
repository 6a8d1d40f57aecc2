"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's query corpus reads (``region`` …
``embeddings``, one parquet file each) with the column names, types
and value vocabularies of the repository's test data, so every oracle
statement that runs on that data runs on these.  The same ``seed``
and ``sf`` always give byte-identical values; row counts depend only
on ``sf``, so every seed measures the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (1.0 = TPC-H SF1)."""
    n = lambda base, lo=1: max(lo, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 10),
        "supplier": n(10_000, 5),
        "part": n(200_000, 20),
        "orders": n(1_500_000, 100),
        "lineitem": n(6_000_000, 400),
        "events": n(1_000_000, 100),
        "users": n(15_000, 5),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    nc = size["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = size["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = size["part"]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PTYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = size["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000, 500_000),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = size["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": rng.integers(0, npart, nl).astype("int64"),
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, nl, 900, 105_000),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = size["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, ne, replace=False))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": start + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, size["users"], ne).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = size["documents"]
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 100))) for _ in range(nd)]
    # ~5% near-duplicates: another document's text plus a marker word
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, nd - 1)) % nd] + " dup"
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    nv, dim = size["embeddings"], 64
    labels = rng.integers(0, 10, nv).astype("int32")
    centroids = rng.normal(0.0, 0.02, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(nv, dtype="int64"), "embedding": list(vecs), "label": labels}
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """Write every table as ``{out_dir}/{name}.parquet`` and return the
    frames (the Delta workload slices ``lineitem`` from them)."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return tables
