"""Seeded generator of the lake tables the query workloads read.

Writes the ten parquet tables the query registry expects (``region
nation customer supplier part orders lineitem events documents
embeddings``) with the schemas and value domains of the TPC-H-ish
fixture set the repository's queries were written against: the same
column names and types, the same categorical vocabularies (region
names, ``NATION_<k>``, market segments, part types, brands, document
vocabulary) and the same near-duplicate structure in ``documents``.
Only the values are new, and they are a pure function of the seed.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale factor 1 (lineitem is ~4 lines per order)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "events": 1_000_000,
             "documents": 50_000, "embeddings": 20_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
              "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "large", "cold", "new", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "gizmo",
             "plate", "rod"]
STATUSES = ["P", "O", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
             "stream", "value", "data", "small", "join", "filter", "big",
             "group", "hash", "customer", "sort", "order", "slow", "line",
             "part", "fast", "row", "the", "agg", "key", "query", "a",
             "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000


def _epoch_us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _dates(rng, n: int, lo: datetime, hi: datetime) -> pa.Array:
    """Uniform whole days in [lo, hi] as µs timestamps."""
    days = (hi - lo).days
    us = _epoch_us(lo) + rng.integers(0, days + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """Two-decimal amounts in [lo, hi] (exact cents, like the fixtures)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(10, 101))])
             for _ in range(n)]
    # ~5% near-duplicates (an earlier document plus one marker token)
    # and ~0.3% exact copies: the dedup and similarity operators need
    # real collisions to do any work
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.053:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.standard_normal((10, EMBED_DIM))
    v = centers[labels] + 2.0 * rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels,
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for (seed, scale factor), as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(rows * sf)) for t, rows in BASE_ROWS.items()}
    n["documents"] = max(500, n["documents"])
    n["embeddings"] = max(500, n["embeddings"])
    n_cust, n_supp, n_part, n_ord = (n["customer"], n["supplier"],
                                     n["part"], n["orders"])
    n_li = 4 * n_ord
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, datetime(1995, 1, 1),
                              datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, datetime(1995, 1, 2),
                             datetime(2001, 11, 4))})
    n_ev = n["events"]
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * _DAY_US - 60_000_000
    ts = _epoch_us(datetime(2024, 1, 1)) + 10_000_000 + (
        np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: Path, seed: int, sf: float) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    total bytes written (the query workloads' input size)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, tbl in build_tables(seed, sf).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(tbl, path)
        total += path.stat().st_size
    return total
