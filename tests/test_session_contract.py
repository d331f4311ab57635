"""Driver-session contract: queries must be correct on sessions WE did not
build — any session timezone, no legacy parquet confs, no session.py
defaults — and must not change the confs of the session they run on.

Pins the one ``events.ts`` read (sources/tables.py): an explicit long
schema plus ``events_ts_to_timestamp``, shared by the batch loader and the
stream reader, for TIMESTAMP(MICROS) and TIMESTAMP(NANOS) files alike.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from firebase_etl_spark.sources.tables import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: count, first and last epoch micros, and a checksum of every value; the
#: modulus keeps the sum far from int64 overflow
TS_STATS_SQL = (
    "count(ts), epoch_us(min(ts)), epoch_us(max(ts)), "
    "sum(epoch_us(ts) % 999983)"
)


def _spark_ts_stats(df):
    from pyspark.sql import functions as F

    us = F.unix_micros("ts")
    row = df.agg(
        F.count("ts"),
        F.unix_micros(F.min("ts")),
        F.unix_micros(F.max("ts")),
        F.sum(us % 999983),
    ).collect()[0]
    return tuple(row)


def _duckdb_ts_stats(sf_dir):
    con = duckdb.connect()
    got = con.sql(
        f"SELECT {TS_STATS_SQL} FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    con.close()
    return tuple(got)


@pytest.fixture(scope="module")
def nanos_dir(sf_dir, tmp_path_factory):
    """A copy of the sf0.01 events table (the test SF's when that is
    missing) whose ``ts`` is parquet TIMESTAMP(NANOS) with sub-microsecond
    digits, the layout of the production events table."""
    src = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.01")
    if not os.path.isdir(src):
        src = sf_dir
    t = pq.read_table(f"{src}/events.parquet")
    us = t.column("ts").cast(pa.int64()).to_numpy()
    ns = us * 1000 + (t.column("event_id").to_numpy() * 7919) % 1000
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", pa.array(ns, pa.timestamp("ns")))
    out = tmp_path_factory.mktemp("nanos_events")
    pq.write_table(t, f"{out}/events.parquet")
    unit = pq.ParquetFile(f"{out}/events.parquet").schema.column(i).logical_type
    assert "nanoseconds" in str(unit)
    assert (ns % 1000).any()
    return str(out)


def test_ntz_path_session_timezone_independent(spark, sf_dir):
    """events.ts must be the same UTC instants for ANY session timezone,
    equal to DuckDB's epoch_us."""
    want = _duckdb_ts_stats(sf_dir)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = _spark_ts_stats(load_table(spark, "events", sf_dir))
            assert got == want, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_nanos_events_batch_and_stream_match_duckdb(spark, nanos_dir):
    """A TIMESTAMP(NANOS) events file reads through load_table and through
    a bounded read_events_stream drive as DuckDB's epoch_us: nanoseconds
    truncated to microseconds, every row."""
    from firebase_etl_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )

    want = _duckdb_ts_stats(nanos_dir)
    assert _spark_ts_stats(load_table(spark, "events", nanos_dir)) == want
    stream = read_events_stream(spark, f"{nanos_dir}/events.parquet")
    assert _spark_ts_stats(run_stream_to_memory(stream)) == want


def test_virgin_session_runs_event_queries(sf_dir, nanos_dir):
    """A conf-less SparkSession.builder.getOrCreate() on a non-UTC machine
    (the external driver's shape) must run events-backed queries and agree
    with DuckDB on timestamps, for the test SF's events and for a NANOS
    copy, batch and stream. Subprocess: the in-process session already
    carries our confs."""
    script = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = SparkSession.builder.master("local[4]").getOrCreate()
import __spark_entry__ as E
from firebase_etl_spark.sources.tables import load_table
from firebase_etl_spark.streaming.events import (
    read_events_stream, run_stream_to_memory)

def stats(df):
    us = F.unix_micros("ts")
    return list(df.agg(F.count("ts"), F.unix_micros(F.min("ts")),
                       F.unix_micros(F.max("ts")),
                       F.sum(us % 999983)).collect()[0])

qs = E.queries()
sf, nd = sys.argv[2], sys.argv[3]
out = {"rows": {}}
for name in ("null_counts_events", "events_hourly_stats",
             "user_sessions", "events_asof_orders"):
    out["rows"][name] = qs[name](spark, sf).count()
out["events"] = stats(load_table(spark, "events", sf))
out["nanos_batch"] = stats(load_table(spark, "events", nd))
out["nanos_stream"] = stats(
    run_stream_to_memory(read_events_stream(spark, nd + "/events.parquet")))
print("RESULT:" + json.dumps(out))
"""
    env = dict(os.environ)
    env["TZ"] = "America/New_York"  # worst case: non-UTC driver machine
    proc = subprocess.run(
        [sys.executable, "-c", script, REPO, sf_dir, nanos_dir],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:")
    )
    got = json.loads(line[len("RESULT:") :])
    assert all(n > 0 for n in got["rows"].values()), got["rows"]
    assert tuple(got["events"]) == _duckdb_ts_stats(sf_dir)
    want = _duckdb_ts_stats(nanos_dir)
    assert tuple(got["nanos_batch"]) == want
    assert tuple(got["nanos_stream"]) == want


def test_shared_session_confs_stay_fixed(spark, sf_dir):
    """The graph operators (loops forced distributed), the modularity audit
    and an events query, run on 8 threads against one session, leave the
    session's confs alone: a sampler reads the confs the package once
    flipped at runtime every 50 ms and sees one value throughout."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.graph import connected_components, pagerank

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.legacy.parquet.nanosAsLong",
    )
    want = {k: spark.conf.get(k) for k in keys}
    # two chains: components {0..40} and {100..120}
    pairs = [(i, i + 1) for i in range(40)] + [(i, i + 1) for i in range(100, 120)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    weighted = edges.withColumn("w", F.lit(1).cast("long"))
    qs = entrymod.queries()
    ops = [
        lambda: qs["part_copurchase_modularity"](spark, sf_dir).collect(),
        lambda: connected_components(
            edges, "src", "dst", local_edge_threshold=0
        ).collect(),
        lambda: pagerank(weighted, local_edge_threshold=0).collect(),
        lambda: qs["events_hourly_stats"](spark, sf_dir).collect(),
    ] * 2

    seen = []
    stop = threading.Event()

    def sample():
        while not stop.is_set():
            seen.append({k: spark.conf.get(k) for k in keys})
            stop.wait(0.05)

    sampler = threading.Thread(target=sample)
    sampler.start()
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(lambda op: op(), ops))
    finally:
        stop.set()
        sampler.join(timeout=10)
    assert not sampler.is_alive()
    assert len(seen) > 10
    assert [s for s in seen if s != want] == []
    assert all(results)
    cc = results[1]
    assert len(cc) == 62 and {r["component"] for r in cc} == {0, 100}
    assert len(results[2]) == 62
