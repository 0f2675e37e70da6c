"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the query catalog reads (the TPC-H-like star
schema, ``events``, ``documents`` and ``embeddings``) with the column names
and parquet types of the engine's reference test data, and value
distributions fitted to it, so every benchmarked row and its DuckDB oracle
run unchanged on them. ``datastats.py`` profiles a dataset and compares two;
``tests/data/reference_sf0.01.json`` holds the profile of the reference
tables at scale 0.01, and the tests hold the generator to it.

``scale`` follows the reference scale factors: at scale 0.01 there are 60,000
lineitem rows, 10,000 events from 150 users, 500 documents and 500 vectors.
The same (scale, seed) always gives byte-identical tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()
_LANGS = ["en", "zh", "de", "es", "fr"]
_LANG_P = [0.43, 0.145, 0.14, 0.145, 0.14]


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    off = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def make_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = round(150_000 * scale)
    n_supp = round(10_000 * scale)
    n_part = round(200_000 * scale)
    n_ord = round(1_500_000 * scale)
    n_line = round(6_000_000 * scale)
    n_ev = round(1_000_000 * scale)
    n_users = round(15_000 * scale)
    n_docs = max(500, round(50_000 * scale))
    n_vecs = max(500, round(20_000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": start + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(_pick(rng, _WORDS, int(k)))
             for k in rng.integers(10, 100, n_docs)]
    # one document in twenty is a near-duplicate: another document's text
    # with a marker token, which is what the dedup rows are built to find
    n_dup = n_docs // 20
    for i, j in zip(rng.choice(n_docs, n_dup, replace=False),
                    rng.choice(n_docs, n_dup, replace=False)):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32)})
    return t


def ensure_dataset(root: str, scale: float, seed: int) -> str:
    """Return ``<root>/sf<scale>-seed<seed>``, writing it first if absent.

    The directory appears atomically (written under a temporary name, then
    renamed), so an interrupted run never leaves a partial dataset behind."""
    out = os.path.join(root, f"sf{scale:g}-seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(scale, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)
    return out
