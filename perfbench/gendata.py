"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the query catalog reads (``tables.TABLE_NAMES``) as
parquet under one directory per scale factor. The shapes and value domains
follow the TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings`` that the catalog's queries and DuckDB oracles are written
against: ``NATION_<i>`` names, ``Brand#<n>`` brands, uniform dates over
1995-2001, a 30-word document vocabulary with 5% near-duplicate documents
(a copy of another document plus the word ``dup``), and 64-dimensional unit
embeddings with ten labels.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (max(1, int(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_line, n_ev = (max(1, int(k * sf)) for k in (1_500_000, 6_000_000, 1_000_000))
    n_users = max(1, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()

    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
    }

    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": start + np.sort(rng.choice(span_us, n_ev, replace=False)),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 101, n_docs)]
    base = list(texts)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = base[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write every table to ``out_dir``; the directory appears only when
    complete, so an interrupted run never leaves a partial scale behind."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)

