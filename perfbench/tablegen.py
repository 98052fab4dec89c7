"""Seeded warehouse, events and corpus tables for the catalog workload.

The tables have the schema, parquet types and value ranges of the
deterministic TPC-H-style test tables the catalog entries are written
against (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), at a fraction of the smallest scale. Every foreign
key resolves. The corpus carries exact and one-word near duplicates so both
dedup regimes do work.

The corpus entries pick physical routes from measured statistics, so one
corpus runs only one side of each gate. ``write_tables`` makes the uniform
side: 1% exact duplicates (under the 2% collapse gate), no hot shingle (the
count route of the n-gram join) and 400 distinct embeddings (a 1-query
top-k scores 400 pairs: the crossjoin route). ``write_skewed_tables`` makes
the other side, a copy of that table set with other corpus tables: a shared
boilerplate footer in every document (max_df² ≥ Σ df: the prefix route),
10% exact duplicates (the collapse route) and 70,000 embeddings (over the
65,536-pair line: the blocked top-k route).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table; every other size derives from these
SIZES = {"customer": 600, "supplier": 40, "part": 800, "orders": 6000, "events": 4000,
         "documents": 400, "embeddings": 400}
SKEWED_SIZES = {"documents": 200, "embeddings": 70_000}
FOOTER = "terms of use apply to every page of this site and all its content"
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("query row stream the spark line small fast group customer batch sort value hash "
         "filter big data dup part column order scan a slow agg key window table merge "
         "vector join").split()
US_PER_DAY = 86_400_000_000


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def write_tables(out: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten tables under ``out``; returns row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(8, int(v * scale)) for k, v in SIZES.items()}
    i32, i64 = pa.int32(), pa.int64()
    _write(out, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc, ns, npt, no = n["customer"], n["supplier"], n["part"], n["orders"]
    _write(out, "customer", {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], nc),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    adj = rng.choice(["blue", "old", "small", "new", "red", "hot", "large", "cold"], npt)
    noun = rng.choice(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"], npt)
    _write(out, "part", {
        "p_partkey": pa.array(range(npt), i64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npt)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], npt),
        "p_size": pa.array(rng.integers(1, 51, npt), i32),
        "p_retailprice": np.round(900 + (np.arange(npt) % 1000) / 10, 2),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["P", "O", "F"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    qty = rng.integers(1, 51, nl).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines), i64),
        "l_partkey": pa.array(rng.integers(0, npt, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * US_PER_DAY
    _write(out, "events", {
        "event_id": pa.array(range(ne), i64),
        "ts": np.sort(start + rng.integers(0, span, ne)).astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), i64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], ne),
        "value": _money(rng, 0.01, 490.02, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    _write_documents(out, rng, n["documents"], dup_every=100)
    _write_embeddings(out, rng, n["embeddings"])
    return {**n, "lineitem": nl, "region": 5, "nation": 25}


def _write_documents(out: str, rng, nd: int, dup_every: int, footer: str = "") -> None:
    """Random texts; document i+1 repeats document i for every i divisible
    by ``dup_every``, and every 50th document (from the 25th) is a one-word
    edit of an earlier one."""
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))) for _ in range(nd)]
    for i in range(25, nd, 50):  # one-word near duplicates
        w = texts[i - 5].split()
        w[len(w) // 2] = "dup"
        texts[i] = " ".join(w)
    if footer:
        texts = [f"{t} {footer}" for t in texts]
    for i in range(0, nd - 1, dup_every):  # exact duplicates
        texts[i + 1] = texts[i]
    _write(out, "documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write_embeddings(out: str, rng, nv: int) -> None:
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vec = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, 64 * nv + 1, 64, dtype=np.int32))
    _write(out, "embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vec.ravel())),
        "label": pa.array(labels, pa.int32()),
    })


def write_skewed_tables(out: str, base: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the skewed documents and embeddings under ``out`` and copy the
    other tables from ``base``; returns their rows."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {k: max(8, int(v * scale)) for k, v in SKEWED_SIZES.items()}
    for f in os.listdir(base):
        if f not in ("documents.parquet", "embeddings.parquet"):
            shutil.copyfile(os.path.join(base, f), os.path.join(out, f))
    _write_documents(out, rng, n["documents"], dup_every=10, footer=FOOTER)
    _write_embeddings(out, rng, n["embeddings"])
    return n
