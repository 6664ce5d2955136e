"""Parquet source layer: schema-aware loaders for the ten fixture tables.

Models the reference's source layer (convention-fixed CSV schemas hard-coded in
its pandas scripts — SURVEY §1.1 ⚠unverified paths) as columnar parquet scans
with Catalyst predicate/column pushdown for free.

The one genuinely custom piece is the ``events.ts`` recipe (SURVEY §1.2,
✓verified): the column is parquet TIMESTAMP(NANOS), which PySpark 4.x cannot
read natively. With ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as
a bigint of nanoseconds; we rebuild a µs timestamp with **integer** division —
``ts div 1000`` — because nanosecond longs exceed 2^53 and float division
corrupts the final microsecond digit (observed off-by-1µs vs DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eviction_lab_etl_spark.session import configure

TABLES: list[str] = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, applying per-table normalization recipes."""
    configure(spark)  # defensive: driver-provided sessions may lack our confs
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The ``events.ts`` recipe, for batch and streaming reads alike.

    Adaptive per testdata vintage — every vintage normalizes to the same
    session-tz (UTC) TimestampType the query surface was built on:
     - TIMESTAMP(NANOS) parquet + nanosAsLong → bigint nanos → rebuild µs
       with INTEGER division (floats corrupt the last µs digit);
     - TIMESTAMP(MICROS) parquet (the testdata since round 4) →
       TimestampNTZ → cast to TimestampType; configure() pins the session
       timezone to UTC so the cast is a lossless relabel."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, min_bytes: int = 256 << 10) -> DataFrame:
    """Fan a under-partitioned frame out to the cluster's parallelism.

    Compute-heavy per-row operators (per-token hashing, shingle digests) are
    CPU-bound, so a small source file that arrives as 1-2 parquet row groups
    would pin the whole stage to 1-2 cores. The round-robin shuffle here is
    cheap relative to the compute it parallelizes — and deliberately
    conditional in both directions: below ``min_bytes`` of source data the
    compute is trivial and the repartition would cost more wall-clock than it
    buys (the sf0.01 oracle fixtures are all under the floor), while a large
    input already split by the scan passes through untouched (repartitioning
    100 TB to ``defaultParallelism`` would be an enormous pointless shuffle)."""
    try:
        files = df.inputFiles()
        total = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    except OSError:
        files, total = [], None
    # Only take the tiny-input early-return when the size is actually known:
    # an in-memory / derived frame reports no input files (total 0), which is
    # "size unknown", not "tiny" — those fall through to the parallelism check.
    if files and total is not None and total < min_bytes:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register fixture tables as temp views (for the spark.sql operators)."""
    for name in tables or TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
