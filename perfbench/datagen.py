"""Seeded input generator for the benchmark workloads.

Writes the tables the benchmark's registry queries read (TPC-H-shaped star
schema, ``events``, ``documents``), one parquet file each, with pyarrow and
numpy only, so generating inputs never starts or warms the JVM.  Schemas,
value domains and the near-duplicate structure of ``documents`` follow the
project's fixed test tables, so every registry query and its DuckDB oracle
run unchanged on the generated files.  The same seed gives byte-identical
files; rows are written in a seed-dependent permuted order.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1.0 (the fixed test tables hold 0.1x this).
_SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "events": 1_000_000}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PART_NOUN = ["ring", "bolt", "gear", "plate", "widget", "rod", "anvil",
              "gizmo"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array((base + days).astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tpch(rng, sf: float) -> dict[str, pa.Table]:
    n_c = max(10, int(_SF1_ROWS["customer"] * sf))
    n_s = max(10, int(_SF1_ROWS["supplier"] * sf))
    n_p = max(20, int(_SF1_ROWS["part"] * sf))
    n_o = max(50, int(_SF1_ROWS["orders"] * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_c)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, n_s, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    retail = np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": rng.choice(names, n_p),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(_PART_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": retail})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_o, dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_o)})
    per_order = rng.integers(1, 8, n_o)
    n_l = int(per_order.sum())
    okey = np.repeat(np.arange(n_o), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    pkey = rng.integers(0, n_p, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        # whole dollars: every revenue term then has two decimals, so no
        # engine's float summation order can flip a half-up rounding
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(
            0.5, 2.2, n_l)),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _days(rng, n_l, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4))})
    return t


def _events(rng, sf: float) -> pa.Table:
    n = max(100, int(_SF1_ROWS["events"] * sf))
    n_users = max(10, n // 66)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(20.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, n: int) -> pa.Table:
    """Random 10-100-word texts over a 30-word vocabulary; 5% are a copy
    of an earlier document with the blocklisted token ``dup`` appended
    (near duplicates), and a few are exact copies."""
    lens = rng.integers(10, 101, n)
    words = [" ".join(rng.choice(_VOCAB, k)) for k in lens]
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            words[i] = words[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            words[i] = words[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": words,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(w) for w in words], pa.int64())})


def generate(out_dir: str, seed: int, tables: list[str], *, tpch_sf: float,
             n_docs: int) -> dict:
    """Write ``tables`` under ``out_dir`` as ``<name>.parquet`` files and
    return the manifest: rows and bytes per table."""
    rng = np.random.default_rng(seed)
    built: dict[str, pa.Table] = {}
    if set(tables) & {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem"}:
        built.update(_tpch(rng, tpch_sf))
    if "events" in tables:
        built["events"] = _events(rng, tpch_sf)
    if "documents" in tables:
        built["documents"] = _documents(rng, n_docs)
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name in tables:
        tbl = built[name]
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        manifest[name] = {"rows": tbl.num_rows,
                          "bytes": os.path.getsize(path)}
    return manifest
