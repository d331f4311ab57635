"""Loaders for the driver-provided synthetic parquet tables.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
Parquet scans give Catalyst predicate pushdown + column pruning for free, so
these loaders deliberately do nothing but ``spark.read.parquet``, plus the
one ``events.ts`` conversion — every filter/projection belongs in the query
plan, not the loader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firebase_etl_spark.schemas import EVENTS_RAW_SCHEMA, TABLE_NAMES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def events_ts_to_timestamp(df: DataFrame) -> DataFrame:
    """Turn ``events.ts``, read as a long (``EVENTS_RAW_SCHEMA``), into a
    UTC TimestampType at microsecond precision.

    The long is the stored value, unchanged: nanoseconds for parquet
    TIMESTAMP(NANOS), microseconds for TIMESTAMP(MICROS). On Spark 4.1 this
    holds for the batch and the streaming reader alike, on any session,
    with or without the legacy nanos-as-long parquet conf (sub-microsecond
    digits survive the read). Any instant after 1973 is >= 1e17
    in nanoseconds, while microseconds stay below 1e16 until the year
    2286, so the two ranges cannot overlap for real data. Nanoseconds are
    truncated to microseconds, as DuckDB's ``epoch_us`` does; integer
    ``div`` because ``/`` goes through double and loses precision at 1e18.
    """
    micros = F.when(
        F.col("ts") >= F.lit(10**17), F.expr("ts div 1000")
    ).otherwise(F.col("ts"))
    return df.withColumn("ts", F.timestamp_micros(micros))


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one synthetic table as a DataFrame (lazy parquet scan).

    ``events`` is read with ``EVENTS_RAW_SCHEMA`` and its ``ts`` converted
    by ``events_ts_to_timestamp``, so the result is the same UTC instants
    on any session, whatever its timezone or parquet confs, and for
    either stored timestamp unit.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    # memoize the analyzed frame per (session, path): schema inference
    # reads the parquet footer on the driver EVERY call (~0.1 s), and a
    # query touching 5 tables pays ~0.5 s before the first job — pure
    # fixed overhead across a 120-query run. The cache lives ON the
    # session object, so it can never outlive its session or leak across
    # sessions (the testdata files are immutable for a session's life;
    # DataFrames are immutable plan handles, safe to share).
    cache = getattr(spark, "_graft_table_cache", None)
    if cache is None:
        cache = {}
        spark._graft_table_cache = cache
    if path in cache:
        return cache[path]
    if name == "events":
        df = events_ts_to_timestamp(
            spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
        )
    else:
        df = spark.read.parquet(path)
    cache[path] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register every synthetic table as a temp view for ``spark.sql``."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
