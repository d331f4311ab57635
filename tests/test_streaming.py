"""Streaming twins driven to completion over the bounded events parquet,
cross-checked against the equivalent batch aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firebase_etl_spark.sources.tables import load_table
from firebase_etl_spark.streaming.events import (
    read_events_stream,
    run_stream_to_memory,
    streaming_dedup,
    streaming_event_counts,
    streaming_sessionization,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return read_events_stream(spark, f"{sf_dir}/events.parquet")


def test_streaming_counts_match_batch(spark, sf_dir, events_stream):
    plan = streaming_event_counts(events_stream, window="1 hour")
    got = run_stream_to_memory(plan, output_mode="append")

    batch = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    got_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in got.collect()
    }
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    # append mode emits only watermark-closed windows: all emitted rows must
    # match batch, and most windows should have been emitted
    assert got_rows
    for k, v in got_rows.items():
        assert batch_rows[k] == v
    assert len(got_rows) >= len(batch_rows) - 10


def test_streaming_dedup_removes_dupes(spark, events_stream):
    plan = streaming_dedup(events_stream, keys=["user_id", "event_type"])
    got = run_stream_to_memory(plan, output_mode="append")
    rows = got.groupBy("user_id", "event_type").count().filter("count > 1").collect()
    assert rows == []


def test_streaming_sessionization_runs(spark, events_stream):
    plan = streaming_sessionization(events_stream, gap="30 minutes")
    got = run_stream_to_memory(plan, output_mode="append")
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1


def test_streaming_keep_latest_matches_batch_dedup(spark):
    """The stateful upsert stream's final state per key must equal the batch
    keep-latest window: same (max ts, event_id-desc tiebreak) winner."""
    from firebase_etl_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        streaming_keep_latest,
    )
    from firebase_etl_spark.operators.dedup import dedup_keep_latest
    from firebase_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, f"{sf}/events.parquet")
    out = run_stream_to_memory(
        streaming_keep_latest(stream), output_mode="update"
    )
    # final emission per key (single-file source => one batch, but stay
    # robust to multi-batch: later emission wins)
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    stream_final = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }

    e = load_table(spark, "events", sf).select("user_id", "ts", "event_id")
    batch = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in dedup_keep_latest(
            e, key="user_id", order_col="ts", tiebreaker="event_id"
        ).collect()
    }
    assert stream_final == batch


def test_foreachbatch_upsert_materializes_keep_latest(spark, tmp_path):
    """Streaming keep-latest driven through a foreachBatch parquet upsert:
    the final table must equal the batch dedup — one row per user, latest
    (ts, event_id) wins — regardless of micro-batch boundaries."""
    from firebase_etl_spark.streaming.events import (
        read_events_stream,
        stream_upsert_parquet,
        streaming_keep_latest,
    )
    from firebase_etl_spark.operators.dedup import dedup_keep_latest
    from firebase_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path / "users_latest")
    stream = read_events_stream(spark, f"{sf}/events.parquet")
    stream_upsert_parquet(streaming_keep_latest(stream), path, key="user_id")
    got = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in spark.read.parquet(path).collect()
    }
    e = load_table(spark, "events", sf).select("user_id", "ts", "event_id")
    want = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in dedup_keep_latest(
            e, key="user_id", order_col="ts", tiebreaker="event_id"
        ).collect()
    }
    assert got == want


def test_stream_dedup_emits_once_per_key(spark):
    from firebase_etl_spark.plans.queries_ext import stream_dedup_events

    rows = stream_dedup_events(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r["n_emitted"] == 1 for r in rows)


def test_concurrent_drives_share_session_and_leave_nothing(spark, sf_dir):
    """Two bounded drives at once on one session return a lone drive's
    rows, leave no temp view, active query, conf change or checkpoint
    behind, and report progress to a listener on that same session."""
    import os
    import tempfile
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.streaming import StreamingQueryListener

    from firebase_etl_spark.plans.queries_ext import stream_dedup_events

    class DataBatches(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.runs: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.numInputRows > 0:
                with self.lock:
                    self.runs.add(str(event.progress.runId))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    ckpt_root = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()

    def state():
        return (
            sorted(t.name for t in spark.catalog.listTables() if t.isTemporary),
            [q.id for q in spark.streams.active],
            spark.conf.get("spark.sql.shuffle.partitions"),
            sorted(n for n in os.listdir(ckpt_root) if n.startswith("spark-stream-ckpt")),
        )

    def drive(_=None):
        return sorted(stream_dedup_events(spark, sf_dir).collect())

    before = state()
    listener = DataBatches()
    spark.streams.addListener(listener)
    try:
        lone = drive()
        with ThreadPoolExecutor(max_workers=2) as pool:
            both = list(pool.map(drive, range(2)))
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)

    assert lone and both == [lone, lone]
    assert state() == before
    assert len(listener.runs) == 3


def test_stream_sliding_matches_batch_sliding(spark):
    """Closed sliding windows from the stream must agree with the batch
    sliding-window aggregation on (window_start, event_type) counts."""
    from firebase_etl_spark.plans.queries_ext import (
        events_sliding_counts,
        stream_sliding_counts,
    )

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in stream_sliding_counts(spark, "/root/testdata/sf0.001").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_sliding_counts(spark, "/root/testdata/sf0.001").collect()
    }
    # append mode emits only watermark-closed windows: subset, value-equal
    assert got and all(want.get(k) == v for k, v in got.items())


def test_stream_stream_join_matches_batch_range_join(spark):
    """The watermarked stream-stream interval join on a bounded run must
    produce exactly the batch bucketized range join's per-user pair set."""
    from firebase_etl_spark.plans.queries_ext import (
        events_near_pairs,
        stream_near_pairs,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: r["n_pairs"] for r in stream_near_pairs(spark, sf).collect()
    }
    want = {
        r["user_id"]: r["n_pairs"] for r in events_near_pairs(spark, sf).collect()
    }
    assert got == want and want


def test_stream_static_enrichment_segments_are_closed_windows(spark):
    """Every emitted enrichment window must be closed by the final
    watermark, and counts must sum to at most the full event count."""
    import pyspark.sql.functions as F

    from firebase_etl_spark.plans.queries_ext import stream_enriched_segments
    from firebase_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = stream_enriched_segments(spark, sf)
    rows = out.collect()
    assert rows
    e = load_table(spark, "events", sf)
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    n_events = e.count()
    import datetime as dt

    wm = max_ts - dt.timedelta(minutes=10)
    assert all(r["window_start"] + dt.timedelta(hours=1) <= wm for r in rows)
    assert sum(r["n_events"] for r in rows) <= n_events


def test_sqlstore_stream_writer_exactly_once(spark, tmp_path):
    """Streaming loads into the database: one transaction per microbatch,
    and a replayed batchId (crash-recovery replay) applies ZERO rows twice
    — the ledger row and the data rows commit atomically."""
    import duckdb

    from firebase_etl_spark.sources.sqlstore_datasource import (
        SqlStoreDataSource,
    )

    db = str(tmp_path / "w.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev (id BIGINT, v VARCHAR)")
    con.close()
    spark.dataSource.register(SqlStoreDataSource)

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).repartition(2).write.parquet(src)

    def run_stream():
        q = (
            spark.readStream.schema("id long, v string")
            .parquet(src)
            .writeStream.format("sqlstore")
            .option("path", db)
            .option("table", "ev")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()

    def rows():
        c = duckdb.connect(db, read_only=True)
        try:
            return sorted(c.execute("SELECT * FROM ev").fetchall())
        finally:
            c.close()

    assert rows() == [(1, "a"), (2, "b"), (3, "c")]

    # same checkpoint, no new input: nothing new is applied
    run_stream()
    assert rows() == [(1, "a"), (2, "b"), (3, "c")]

    # direct replay of an ALREADY-COMMITTED batch id (the crash-recovery
    # path): the ledger makes the second commit a no-op
    from firebase_etl_spark.sources.sqlstore_datasource import (
        SqlStageCommit,
        SqlStoreStreamWriter,
    )
    import pyarrow.parquet as pq
    import pyarrow as pa

    w = SqlStoreStreamWriter({"path": db, "table": "ev"}, overwrite=False)
    staged = str(tmp_path / "replay.parquet")
    pq.write_table(
        pa.table({"id": [99], "v": ["dup"]}), staged
    )
    w.commit([SqlStageCommit(staged, 1)], batchId=777)
    assert (99, "dup") in rows()
    pq.write_table(pa.table({"id": [99], "v": ["dup"]}), staged)
    w.commit([SqlStageCommit(staged, 1)], batchId=777)  # replay
    assert rows().count((99, "dup")) == 1


def test_sqlstore_stream_writer_complete_mode_overwrite(tmp_path):
    """outputMode('complete') passes overwrite=True: every microbatch
    must REPLACE the table contents inside its transaction (previously
    the flag was accepted and silently ignored — review finding), the
    ledger still dedups replays, and the per-batch staging dirs vanish."""
    import glob

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from firebase_etl_spark.sources.sqlstore_datasource import (
        SqlStageCommit,
        SqlStoreStreamWriter,
    )

    db = str(tmp_path / "w.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE agg (k VARCHAR, n BIGINT)")
    con.close()

    def rows():
        c = duckdb.connect(db, read_only=True)
        try:
            return sorted(c.execute("SELECT * FROM agg").fetchall())
        finally:
            c.close()

    def commit_batch(w, batch_id, table):
        staged = f"{w.staging}/part-test.parquet"
        import os

        os.makedirs(w.staging, exist_ok=True)
        pq.write_table(table, staged)
        w.commit([SqlStageCommit(staged, len(table))], batchId=batch_id)

    # batch 0: initial complete-mode result
    w0 = SqlStoreStreamWriter({"path": db, "table": "agg"}, overwrite=True)
    commit_batch(w0, 0, pa.table({"k": ["a", "b"], "n": [1, 2]}))
    assert rows() == [("a", 1), ("b", 2)]

    # batch 1: updated aggregate REPLACES, never appends
    w1 = SqlStoreStreamWriter({"path": db, "table": "agg"}, overwrite=True)
    commit_batch(w1, 1, pa.table({"k": ["a", "b"], "n": [5, 7]}))
    assert rows() == [("a", 5), ("b", 7)]

    # replayed batch 1 (crash recovery): ledger short-circuits — the
    # table is NOT wiped-and-rewritten a second time, contents unchanged
    w1r = SqlStoreStreamWriter({"path": db, "table": "agg"}, overwrite=True)
    commit_batch(w1r, 1, pa.table({"k": ["a"], "n": [999]}))
    assert rows() == [("a", 5), ("b", 7)]

    # empty complete-mode batch truncates (zero staged rows)
    w2 = SqlStoreStreamWriter({"path": db, "table": "agg"}, overwrite=True)
    w2.commit([], batchId=2)
    assert rows() == []

    # per-batch staging subdirectories all cleaned up
    assert glob.glob(f"{db}.stream-staging*") == []


def test_streaming_transitions_survive_batch_boundaries(spark, tmp_path):
    """Cross-batch sequence state: events split into three time-ordered
    files (one micro-batch each under maxFilesPerTrigger=1) must yield
    EXACTLY the batch transition counts — including the transitions
    whose two events straddle a batch boundary, which only the carried
    per-user state can see."""
    import time as _time

    from pyspark.sql import functions as F

    from firebase_etl_spark.sources.tables import load_table
    from firebase_etl_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        streaming_transition_counts,
    )

    e = (
        load_table(spark, "events", "/root/testdata/sf0.001")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "ts", "event_id", "event_type", "value", "props")
    )
    lo, hi = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    path = str(tmp_path / "staged")
    for i in range(3):  # sequential writes => discovery order == time order
        part = e.filter(
            (F.col("ts") >= lo + i * span)
            & (F.col("ts") < (lo + (i + 1) * span if i < 2 else hi))
            | (F.lit(i == 2) & (F.col("ts") == hi))
        )
        # the stream reader's forced-long raw schema expects epoch longs
        # (the TIMESTAMP(NANOS) fixture convention) — stage micros
        part.withColumn("ts", F.unix_micros("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        _time.sleep(1.1)  # distinct mtimes for deterministic batch order
    stream = read_events_stream(spark, path)
    inc = run_stream_to_memory(
        streaming_transition_counts(stream),
        output_mode="append",
    )
    got = {
        (r["cur_type"], r["next_type"]): r["n"]
        for r in inc.groupBy("cur_type", "next_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        e.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .count()
    )
    expect = {(r["cur"], r["nxt"]): r["count"] for r in batch.collect()}
    assert got == expect
    assert sum(got.values()) == sum(expect.values()) > 0


def test_streaming_kmv_matches_batch_bottom_k(spark, sf_dir, events_stream):
    """The stateful KMV sketch's final emission per key is bit-identical
    to a batch bottom-64 over the full table (state is a pure function
    of the input set), and sub-k keys estimate exactly."""
    from firebase_etl_spark.plans.queries_ext import (
        stream_kmv_distinct_users,
    )

    got = {
        r["g"]: r for r in stream_kmv_distinct_users(spark, sf_dir).collect()
    }
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    hashed = e.select(
        F.col("event_type").alias("g"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("h")
    batch = (
        hashed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 64)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("h_k"))
        .collect()
    )
    assert len(batch) == len(got)
    for b in batch:
        r = got[b["g"]]
        assert r["n_sk"] == b["n_sk"] and r["h_k"] == b["h_k"]
        if b["n_sk"] < 64:
            assert r["est_distinct"] == b["n_sk"]
    # n_seen is the raw (non-distinct) row count per type
    raw = {r["event_type"]: r["n"] for r in e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert all(got[g]["n_seen"] == raw[g] for g in got)


def test_streaming_count_min_matches_batch_sketch(spark, sf_dir, events_stream):
    """The stateful CM sketch's final emission per key equals the
    batch count_min_report estimates for the same probes (counters
    are sums — batching-invariant), and every estimate >= the true
    per-user count within the key."""
    from firebase_etl_spark.operators.heavy_hitters import count_min_report
    from firebase_etl_spark.plans.queries_ext import stream_count_min_users

    got = {
        r["g"]: r for r in stream_count_min_users(spark, sf_dir).collect()
    }
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    for g in got:
        sub = e.filter(F.col("event_type") == g)
        batch = {
            r["value"]: r
            for r in count_min_report(
                sub, "user_id", [0, 1, 2, 3, 4]
            ).collect()
        }
        for u in range(5):
            b = batch[str(u)]
            assert got[g][f"est_u{u}"] == b["cms_estimate"]
            assert got[g][f"est_u{u}"] >= b["n_exact"]
    raw = {r["event_type"]: r["n"] for r in e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert all(got[g]["n_seen"] == raw[g] for g in got)


def test_streaming_ab_monitor_matches_batch_moments(spark, sf_dir):
    """The stateful A/B monitor's final emission per key equals the
    batch integer moments exactly (the state is six sums), and the
    engine-side z agrees with ab_fdr_screen's z for the same data."""
    from firebase_etl_spark.operators.stats import ab_fdr_screen
    from firebase_etl_spark.plans.queries_ext import stream_ab_monitor

    got = {r["event_type"]: r
           for r in stream_ab_monitor(spark, sf_dir).collect()}
    e = (
        load_table(spark, "events", sf_dir)
        .filter(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("int"))
    )
    batch = {
        r["group_key"]: r
        for r in ab_fdr_screen(
            e, "event_type", "arm",
            "CAST(round(value * 100.0, 0) AS BIGINT)",
        ).collect()
    }
    assert set(got) == set(batch)
    for g, s in got.items():
        b = batch[g]
        assert s["n_a"] == b["n_a"] and s["n_b"] == b["n_b"]
        assert s["z_e6"] == b["z_e6"]
        assert s["n_events"] == b["n_a"] + b["n_b"]


def test_streaming_srm_matches_batch_counts(spark, sf_dir):
    """Twin #14: the stateful SRM gate's final emission per key equals
    the batch event-level arm counts exactly (the state is two
    counters), and the engine-side chi-square matches a direct batch
    recomputation of the same integer expression."""
    from firebase_etl_spark.plans.queries_ext import stream_srm_check

    got = {r["event_type"]: r
           for r in stream_srm_check(spark, sf_dir).collect()}
    batch = {
        r["g"]: r
        for r in (
            load_table(spark, "events", sf_dir)
            .filter(
                F.col("event_type").isNotNull()
                & F.col("user_id").isNotNull()
            )
            .groupBy(F.col("event_type").alias("g"))
            .agg(
                F.sum((F.col("user_id") % 2 == 0).cast("long"))
                .alias("n0"),
                F.sum((F.col("user_id") % 2 == 1).cast("long"))
                .alias("n1"),
            )
            .collect()
        )
    }
    assert set(got) == set(batch)
    for g, s in got.items():
        b = batch[g]
        assert s["n_arm0"] == b["n0"] and s["n_arm1"] == b["n1"]
        assert s["n_events"] == b["n0"] + b["n1"]
        expect_chi2 = ((b["n0"] - b["n1"]) ** 2 * 1_000_000) // (
            b["n0"] + b["n1"]
        )
        assert s["chi2_e6"] == expect_chi2
        assert s["srm_detected"] == (expect_chi2 > 3_841_459)
