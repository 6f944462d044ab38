"""Batch loaders for the driver testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
/root/testdata/sf{0.001,0.01,0.1}/.

events.parquet stores its ``ts`` as parquet TIMESTAMP(NANOS), which
Spark cannot read natively; with ``spark.sql.legacy.parquet.nanosAsLong``
we read it as a long and rebuild a TIMESTAMP_NTZ (the generator emits
microsecond-aligned values, so ``div 1000`` is lossless). All other
timestamps arrive as TIMESTAMP_NTZ already, which matches DuckDB's
naive-timestamp semantics in the oracle comparisons.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def convert_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """nanos-since-epoch long → tz-independent TIMESTAMP_NTZ (the
    generator emits microsecond-aligned nanos, so ``div 1000`` is
    lossless). Shared by the batch loader and the streaming reader."""
    return df.withColumn(
        col,
        F.expr(f"timestampadd(MICROSECOND, {col} div 1000, {_EPOCH_NTZ})"),
    )


def events_ts_is_nanos(path: str) -> bool:
    """True when the parquet footer stores ``ts`` as TIMESTAMP(NANOS).

    Probed from the file metadata (pyarrow) rather than by flipping
    ``spark.sql.legacy.parquet.nanosAsLong`` session-wide: the legacy
    flag changes how EVERY later parquet read in the session surfaces
    nanos timestamps, so it must only be set when this file actually
    needs it (the generator has emitted both encodings across rounds).
    """
    import pyarrow.parquet as pq

    try:
        return str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
    except Exception:
        return False


def dataset_signature(path: str):
    """Hashable identity of a parquet file or directory: the absolute
    path plus every data file's (relpath, size, mtime_ns).  Returns
    None (→ memoization skipped) when the path can't be statted."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (os.path.abspath(path), st.st_size, st.st_mtime_ns)
        ents = []
        for root, _, files in os.walk(path):
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue  # _SUCCESS / .crc markers churn freely
                fp = os.path.join(root, fn)
                st = os.stat(fp)
                ents.append((os.path.relpath(fp, path),
                             st.st_size, st.st_mtime_ns))
        if not ents:
            return None
        return (os.path.abspath(path), tuple(sorted(ents)))
    except OSError:
        return None


# Session-scoped table memo: every `spark.read.parquet` pays a py4j
# round trip, a file listing and a footer schema read, and the
# registry wrappers call load_table 2-3 times per query.  Memoize the LAZY
# DataFrame per (session, dataset_signature): this is table
# registration (exactly what register_views/spark.table do), NOT
# result caching — the DataFrame is an unresolved scan and every
# action still reads the parquet bytes.  The signature covers every
# data file's size and mtime, so a table regenerated in place (even a
# part file rewritten under an unchanged directory mtime) misses.
_TABLE_MEMO: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = dataset_signature(path)
    if key is None:
        return _load_table_uncached(spark, path, name)
    cache = _TABLE_MEMO.setdefault(spark, {})
    df = cache.get(key)
    if df is None:
        df = cache[key] = _load_table_uncached(spark, path, name)
    return df


def _load_table_uncached(spark: SparkSession, path: str,
                         name: str) -> DataFrame:
    if name != "events":
        return spark.read.parquet(path)
    if not events_ts_is_nanos(path):
        return spark.read.parquet(path)
    # NANOS encoding: the legacy flag is required at scan time (Spark
    # refuses TIMESTAMP(NANOS) without it), so it intentionally stays
    # set for the session — the session genuinely contains nanos data.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes)["ts"] == "bigint":
        df = convert_events_ts(df)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (SQL surface)."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
