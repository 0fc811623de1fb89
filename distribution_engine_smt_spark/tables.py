"""Parquet-backed table layer.

The reference's table gateway (engine/*_storage.py over the ``dataset``
library) becomes: parquet directories + explicit schemas + temp-view
registration. Physical design notes (SURVEY.md §4):

- Tables keyed by token are partitioned by ``token`` on disk so every
  per-tribe query prunes to one partition — the analog of the reference's
  leading-``token`` composite indexes (sql/engine.sql:106-116).
- Time-filtered tables (posts, account_history, votes) are additionally
  sorted within files by their query-time sort key (created / timestamp) so
  parquet min-max stats skip files under the 30-day / 2-week cutoff
  predicates (engine/post_storage.py:171-173,404).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import schemas

# token-keyed tables get disk partitioning by token; at 100 TB this is the
# difference between a full scan and a single-directory read per tribe.
PARTITION_COLUMNS: dict[str, list[str]] = {
    "posts": ["token"],
    "votes": ["token"],
    "account_history": ["token"],
    "accounts": ["symbol"],
}

SORT_COLUMNS: dict[str, list[str]] = {
    "posts": ["created"],
    "votes": ["timestamp"],
    "account_history": ["timestamp"],
    "reblogs": ["timestamp"],
}

# Tables with no natural partition value (post_metadata is keyed only by
# authorperm — bodies make it the largest L1 table) are hash-bucketed on
# disk: partition dir = crc32(key) % N. save_state / merge can then scope
# a batch's write to the touched buckets instead of rewriting the table —
# at 100 TB a micro-batch rewrites a handful of 1/N-sized directories.
# crc32 (not xxhash/murmur) because it is bit-stable across Spark versions
# AND matches Python's zlib.crc32, so the driver can address buckets too.
HASH_BUCKETS: dict[str, tuple[str, int]] = {
    "post_metadata": ("authorperm", 16),
}
BUCKET_COL = "__bucket"


def bucket_expr(name: str):
    """Column expression assigning a row of ``name`` to its disk bucket."""
    from pyspark.sql import functions as F

    key, n = HASH_BUCKETS[name]
    return F.pmod(F.crc32(F.col(key).cast("binary")), F.lit(n)).cast("int")


def bucket_of(value: str, name: str) -> int:
    """Driver-side twin of ``bucket_expr`` (zlib.crc32 == Spark crc32)."""
    import zlib

    _, n = HASH_BUCKETS[name]
    return zlib.crc32(value.encode("utf-8")) % n

TPCH_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read a state table from ``root/name`` with its declared schema.
    For hash-bucketed tables the partition column is auto-appended by the
    reader; drop it so every caller sees the canonical schema."""
    path = os.path.join(root, name)
    df = spark.read.schema(schemas.STATE_TABLES[name]).parquet(path)
    return df.drop(BUCKET_COL)


def conform(df: DataFrame, name: str) -> DataFrame:
    """Cast a state-table DataFrame to its canonical schema. Processor
    arithmetic narrows/widens decimal precision (e.g. a sum of
    decimal(38,10) deltas), and parquet written with a drifted decimal
    precision cannot be read back under the canonical schema — conform at
    the persistence boundary."""
    from pyspark.sql import functions as F

    target = schemas.STATE_TABLES[name]
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
    )


def write_table(df: DataFrame, root: str, name: str, mode: str = "overwrite") -> None:
    """Write a state table with its scale-appropriate physical layout."""
    path = os.path.join(root, name)
    if name in schemas.STATE_TABLES:
        df = conform(df, name)
    writer = df
    sort_cols = SORT_COLUMNS.get(name)
    part_cols = PARTITION_COLUMNS.get(name)
    if not part_cols and name in HASH_BUCKETS:
        key, _ = HASH_BUCKETS[name]
        df = df.withColumn(BUCKET_COL, bucket_expr(name))
        part_cols, sort_cols = [BUCKET_COL], [key]
    if part_cols and sort_cols:
        writer = df.repartition(*part_cols).sortWithinPartitions(*part_cols, *sort_cols)
    elif sort_cols:
        writer = df.sortWithinPartitions(*sort_cols)
    elif part_cols:
        writer = df
    w = writer.write.mode(mode)
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(path)


def empty_table(spark: SparkSession, name: str) -> DataFrame:
    return spark.createDataFrame([], schemas.STATE_TABLES[name])


def load_state(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    """Load every state table found under ``root`` (missing -> empty)."""
    out: dict[str, DataFrame] = {}
    for name in schemas.STATE_TABLES:
        path = os.path.join(root, name)
        if os.path.isdir(path):
            out[name] = read_table(spark, root, name)
        else:
            out[name] = empty_table(spark, name)
    return out


def load_tpch(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's TPC-H-ish parquet tables from an sf directory.

    The driver's parquet stores TIMESTAMP(NANOS); Spark rejects that by
    default. With the legacy flag, non-UTC-adjusted nanos read as
    TIMESTAMP_NTZ (orders/lineitem) while UTC-adjusted nanos (events.ts)
    read as a raw nanos LONG — normalize the latter to TIMESTAMP_NTZ so all
    time columns behave identically and match the DuckDB view of the same
    files. Session TZ is pinned to UTC so LTZ->NTZ conversion is the
    identity."""
    # applicationId, not id(spark): a GC'd session's address can be reused
    # by a new session, which would serve dead DataFrames from the cache
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _TPCH_CACHE.get(key)
    if cached is not None:
        return dict(cached)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {
        name: spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for name in TPCH_TABLES
    }
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    ev = out["events"]
    if isinstance(ev.schema["ts"].dataType, LongType):
        out["events"] = ev.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    # memoize per (session, dir): parquet footer/schema reads are pure
    # overhead when a query suite hits the same tables repeatedly
    _TPCH_CACHE[key] = dict(out)
    return out


_TPCH_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def register_views(tables: dict[str, DataFrame]) -> None:
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
