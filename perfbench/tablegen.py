"""Seeded generator for the engine's catalog tables (``catalog.TABLES``).

Writes one parquet file per table under ``out_dir`` with the schemas and
value shapes of the star-schema fixtures the registered queries are
written against (TPC-H-ish dimensions and facts, an ``events`` stream,
a ``documents`` corpus and unit-norm ``embeddings``).  Row counts scale
with ``sf`` the way the fixtures do (``lineitem`` = 6M x sf).  The same
``(seed, sf)`` always writes the same files; nothing is downloaded.

Corpus shape matters to the curation stages: texts are 5-99 words over
a 30-word vocabulary, about 5% are near-duplicates (an earlier document
plus one token) and a handful are exact copies, so exact dedup,
near-dup LSH and the quality gate all have work to drop.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "red", "small", "large", "hot", "cold", "new", "old")
_NOUN = ("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
EMB_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lens = rng.integers(5, 100, n)
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in lens]
    # ~5% near-duplicates (an earlier doc + one token), ~0.3% exact copies
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.003):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table for scale ``sf``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
    }
    n_users = max(1, int(15_000 * sf))
    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(_REGIONS),
    })
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    k = n["customer"]
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": rng.choice(_SEGMENTS, k),
    })
    k = n["supplier"]
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    tables["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, k), rng.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": rng.choice(_PTYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })
    k = n["orders"]
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), k),
        "o_totalprice": _money(rng, 1000, 500_000, k),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": rng.choice(_PRIORITIES, k),
    })
    k = n["lineitem"]
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, k),
        "l_discount": rng.integers(0, 11, k) / 100,
        "l_tax": rng.integers(0, 9, k) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), k),
        "l_linestatus": rng.choice(("F", "O"), k),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k),
    })
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, k))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, k).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, k),
        "value": _money(rng, 0.01, 490.02, k),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    tables["documents"] = _documents(rng, n["documents"])
    k = n["embeddings"]
    vecs = rng.standard_normal((k, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, k).astype(np.int32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        t = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            t = t.set_column(1, "embedding", pa.array(
                [v.tolist() for v in vecs], type=pa.list_(pa.float32())))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}
