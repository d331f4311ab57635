"""Fault-tolerant load: the split-path rewrite of the reference's row-wise
insert loop (K3/K4, reference postgres_loader.py:293-326,524-605).

The reference inserts one row per transaction to isolate failures and
accumulates per-row errors in a Python list. Distributed rewrite: validate
FIRST (operators/validate), write the good side in bulk, quarantine the bad
side with reasons — no per-row transactions, no driver-side error list;
counts come from an Observation on each write. The input is computed once:
it is persisted for the duration of the call and both writes read it, so
the upstream (read, transform, dedup, conflict resolution) is not re-run
for the second side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from firebase_etl_spark.operators.validate import validate_users
from firebase_etl_spark.sinks.files import write_parquet


@dataclass
class LoadReport:
    total: int
    loaded: int
    quarantined: int

    @property
    def success_rate(self) -> float:
        return self.loaded / self.total if self.total else 1.0


def _write_counted(df: DataFrame, path: str) -> int:
    """Write ``df`` as parquet and return its row count, observed on the
    write itself (no second action)."""
    obs = Observation()
    write_parquet(df.observe(obs, F.count(F.lit(1)).alias("rows")), path)
    return obs.get["rows"]


def load_with_quarantine(df: DataFrame, good_path: str, quarantine_path: str) -> LoadReport:
    """Validate -> bulk-write valid rows -> quarantine the rest (with their
    ``violations`` reasons). Mirrors the reference's load report shape
    (postgres_loader.py:585-592) without its 1-row-per-transaction cost.

    ``df`` is computed once: it is persisted, the valid side's write fills
    the cache and the quarantine side's write reads it, and the cache is
    dropped before returning (also on failure). A ``df`` the caller has
    already cached is used as is and left cached. One job per side; no
    count action."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df = df.persist()
    try:
        result = validate_users(df)
        loaded = _write_counted(result.valid, good_path)
        quarantined = _write_counted(result.quarantine, quarantine_path)
    finally:
        if owned:
            df.unpersist()
    return LoadReport(total=loaded + quarantined, loaded=loaded, quarantined=quarantined)


def write_jdbc_append(df: DataFrame, url: str, table: str, properties: dict) -> None:
    """Bulk JDBC append (K3) — batched statements via the JDBC writer
    (``batchsize`` in properties), not per-row transactions. UPDATE/DELETE
    (K5/K6) are not native to the Spark JDBC sink; route through a staging
    table + MERGE executed on the target, or a Delta/Iceberg table."""
    df.write.mode("append").jdbc(url, table, properties=properties)
