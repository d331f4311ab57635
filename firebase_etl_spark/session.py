"""SparkSession factory with scale-aware defaults.

Local mode is the test harness; the configs are chosen so the same code is
correct and fast on a multi-executor cluster:

- AQE on (runtime coalesce, skew-join splitting) so shuffle partition counts
  self-tune at 1000× the local data volume.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster AQE
  raises the effective parallelism from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- Session timezone pinned to UTC so timestamp semantics agree with the
  DuckDB oracle and are cluster-location-independent.
- Arrow enabled for any pandas interchange (Pandas UDF batches).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "firebase_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests and bench share one entry point; on a real cluster pass
    ``master=None`` with ``spark.master`` set externally, or an explicit URL.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Shuffle/spill scratch on tmpfs when available: local single-node runs
    # stall on /tmp fsyncs (state-store deltas, shuffle files) long before
    # CPU matters. On a cluster this is the same knob ops point at fast
    # NVMe — env-overridable either way.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size-driven coalescing (guide §2.2): with the default
        # parallelismFirst=true AQE coalesces only down to
        # defaultParallelism, so every tiny shuffle still schedules
        # ~#cores reduce tasks — pure per-stage overhead that grows with
        # core count (r12 A/B at sf0.1: curation_v2 11.0->4.1 s,
        # recall_audit 7.0->4.0 s, and single-scan queries -15-25%).
        # false is the setting Spark's own tuning docs recommend
        # ("respect the configured target size") and is the correct
        # cluster behavior at any scale: partitions are sized by the
        # 64 MB advisory target, not by how many slots happen to exist.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # ... with a cores-scaled FLOOR: bytes-based coalescing alone
        # serializes reduce stages whose work is CPU-heavy per byte
        # (measured: exact-percentile sort 1.3->2.1 s, ngram counting
        # +50% when folded to one task). cores/4 keeps every stage at
        # least modestly parallel while still killing the
        # one-task-per-slot overhead; at 32 local cores the floor is 8,
        # and A/B at sf0.1 beat BOTH pure settings on every probe
        # (percentiles 1.08 vs 1.27/2.08, curation_v2 3.97 vs 11.0/4.1).
        # Scales with the session's core budget, not a local constant.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            str(max(2, cpus // 4)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the sqlstore Python DataSource (sources/sqlstore_datasource.py)
        # receive pushed filters — off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # whole-stage codegen is skipped for operators wider than this
        # (default 100 fields): the 130-column bootstrap aggregate ran
        # interpreted and measured 2.5x slower (4.3s -> 1.7s steady at
        # sf0.1 when compiled). 300 covers the widest shipped plan;
        # anything that still overflows janino's method limit falls
        # back to interpreted exactly as before (codegen.fallback).
        .config("spark.sql.codegen.maxFields", "300")
        # managed tables (bucketed sinks) land outside the repo
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        # PySpark's DataFrame debugging wraps every functions.* and Column
        # method call to walk the Python stack and send the call site to
        # the JVM, about three gateway round trips per call where one does
        # the work (``F.col``: ~14 -> 3, ``clean_string``: ~105 -> ~45;
        # building the user ETL's plans makes thousands of such calls).
        # The trade: a DataFrame-API error no longer names the Python line
        # that built the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
