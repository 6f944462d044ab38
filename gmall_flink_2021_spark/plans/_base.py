"""Shared plan-module plumbing: table loading and cross-family constants."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import harden
from ..sources.tables import dataset_signature, load_table


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Canonical table load for the registry.  documents drops
    NULL-doc_id rows (invalid ingest: the doc pipeline keys dedup,
    provenance and chunk/frame addressing on doc_id, and a NULL
    identity joins in no formulation — the P1 dirty-side-output
    placement); registry.py mirrors the gate into every oracle's
    FROM/JOIN documents.  events keep NULL event_id rows (aggregates
    count page views, which need no identity)."""
    harden(spark)
    out = []
    for n in names:
        df = load_table(spark, sf_dir, n)
        if n == "documents":
            df = df.filter(df.doc_id.isNotNull())
        out.append(df)
    return out

def _emb_key(sf_dir: str):
    """Learned-parameter memo key for the embeddings table (see
    similarity.py module header): path + per-file size/mtime, so the
    memo self-invalidates when the data is regenerated in place."""
    return dataset_signature(os.path.join(sf_dir, "embeddings.parquet"))

_DRIFT_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
               "o_totalprice", "o_orderdate", "o_orderpriority")

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")

_RI_RELATIONS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey",
     "lineitem->orders"),
    ("orders", "o_custkey", "customer", "c_custkey",
     "orders->customer"),
    ("customer", "c_nationkey", "nation", "n_nationkey",
     "customer->nation"),
    ("lineitem", "l_partkey", "part", "p_partkey", "lineitem->part"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey",
     "lineitem->supplier"),
    ("events", "user_id", "customer", "c_custkey", "events->customer"),
]
