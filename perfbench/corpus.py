"""Seeded corpus for the registry workload: the ten tables the query
registry reads (TPC-H-like relational tables plus ``events``,
``documents`` and ``embeddings``), with the column names, types and
value domains of the sf0.01 test data (TESTDATA.md), one parquet
file each. Sizes are fixed; the seed changes only the values, so
every seed asks the same amount of work of the registry.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
         "orders": 15000, "lineitem": 60000, "events": 10000,
         "documents": 500, "embeddings": 500}
_WORDS = ("join hash row batch scan column customer filter small slow "
          "merge order vector line table data agg value key stream "
          "window a spark part group big sort query fast the").split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_PART_WORDS = [a + " " + b for a in ("small", "large", "red", "blue",
                                     "hot", "old", "new", "green")
               for b in ("ring", "widget", "bolt", "gear", "plate",
                         "rod", "nut", "pin")]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
               "STANDARD"]


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + (seconds * 1_000_000).astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                    pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]),
                                    pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, n["supplier"])}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": rng.choice(_PART_WORDS, n["part"]),
            "p_brand": [f"Brand#{b}" for b in
                        rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(
                900 + (np.arange(n["part"]) % 1000) * 0.1, 1)}),
    }
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no),
                              pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts("1995-01-01",
                           rng.integers(0, 2404, no) * 86400),
        "o_orderpriority": rng.choice(_PRIORITIES, no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts("1995-01-02",
                          rng.integers(0, 2498, nl) * 86400)})
    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate of an earlier document: the dedup family
            # must find these
            words = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(
                rng.choice(_WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(seed: int, dest: str) -> str:
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest
