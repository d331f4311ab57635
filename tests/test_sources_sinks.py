"""Sources (RTDB export reader, JDBC option construction) and sinks
(JSON/CSV/parquet, quarantine loader), plus multimodal plumbing."""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql import types as T

from firebase_etl_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_media_features,
    resize_images,
    sample_frames,
    media_dedup_exact,
)
from firebase_etl_spark.sinks.files import write_csv, write_json, write_parquet
from firebase_etl_spark.sinks.loader import load_with_quarantine
from firebase_etl_spark.sources.firebase import read_rtdb_export, write_rtdb_export
from firebase_etl_spark.sources.jdbc import JdbcConfig, read_table


def test_rtdb_export_roundtrip(spark, tmp_path):
    export = {
        "uidA": {"email": "a@x.com", "name": "A", "status": "actif"},
        "uidB": {"email": "b@x.com", "createdAt": "2024-01-01"},
        # non-object entries of every JSON kind an export can carry
        "uidC": "corrupt-not-a-dict",
        "uidD": 42,
        "uidE": [{"email": "e@x.com"}],
        "uidF": True,
        "uidG": None,
    }
    path = str(tmp_path / "users.json")
    write_rtdb_export(export, path)
    df = read_rtdb_export(spark, path)
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"uidA", "uidB"}          # corrupt entries dropped
    assert rows["uidA"]["email"] == "a@x.com"
    assert rows["uidA"]["uid"] == "uidA"          # map key materialized
    assert rows["uidB"]["createdAt"] == "2024-01-01"

    # typed records whose own fields carry no id/uid, read with a schema
    # that declares both: the map key fills them
    typed = {
        "k1": {"n": 9007199254740993, "x": 2.5, "meta": {"a": [1, 2]}},
        "k2": {"n": -1, "x": 0.1},
        "k3": "corrupt",
    }
    path = str(tmp_path / "typed.json")
    write_rtdb_export(typed, path)
    schema = T.StructType.fromDDL(
        "n bigint, x double, meta string, id string, uid string"
    )
    df = read_rtdb_export(spark, path, schema)
    got = {r["id"]: r.asDict() for r in df.collect()}
    assert got == {
        "k1": {"n": 9007199254740993, "x": 2.5, "meta": '{"a":[1,2]}',
               "id": "k1", "uid": "k1"},
        "k2": {"n": -1, "x": 0.1, "meta": None, "id": "k2", "uid": "k2"},
    }
    # a schema that declares neither id nor uid: the map key fills both
    df = read_rtdb_export(spark, path, T.StructType.fromDDL("n bigint"))
    assert sorted(tuple(r) for r in df.collect()) == [
        (-1, "k2", "k2"), (9007199254740993, "k1", "k1"),
    ]
    assert df.columns == ["n", "id", "uid"]
    # one parse of the document and one per record: no Filter re-evaluates
    # either from_json
    plan = df._jdf.queryExecution().optimizedPlan().toJSON()
    assert plan.count('expressions.JsonToStructs"') == 2


def test_jdbc_reader_options_lazy(spark):
    cfg = JdbcConfig(url="jdbc:postgresql://db:5432/x", user="u", password="p")
    assert cfg.options()["fetchsize"] == "10000"
    # reader builds without connecting; load() would need a driver jar
    reader = spark.read.format("jdbc").options(**cfg.options()).option("dbtable", "t")
    assert reader is not None


def test_file_sinks_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    jp, cp, pp = (str(tmp_path / n) for n in ("j", "c", "p"))
    write_json(df, jp, single_file=True)
    write_csv(df, cp, single_file=True)
    write_parquet(df, pp)
    assert spark.read.json(jp).count() == 2
    assert spark.read.option("header", "true").csv(cp).count() == 2
    assert sorted(map(tuple, spark.read.parquet(pp).collect())) == [(1, "a"), (2, "b")]


def test_orc_sink_roundtrip_with_pruning(spark, tmp_path):
    """ORC round-trip preserves values and, like parquet, serves partition
    pruning from the directory layout."""
    from firebase_etl_spark.sinks.files import write_orc

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")],
        "id long, v string, part string",
    )
    path = str(tmp_path / "orc")
    write_orc(df, path, partition_by=["part"])
    back = spark.read.orc(path)
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    pruned = back.filter(F.col("part") == "y")
    assert [r["id"] for r in pruned.collect()] == [3]
    # partition pruning shows up as a pushed partition filter, not a scan
    # of both part= directories
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "part" in plan


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """overwrite_partitions must replace ONLY the partitions present in the
    incoming frame (reprocess-one-day), never truncate the table."""
    from firebase_etl_spark.sinks.files import overwrite_partitions

    path = str(tmp_path / "t")
    full = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")],
        "id long, day string",
    )
    overwrite_partitions(full, path, ["day"])
    redo = spark.createDataFrame([(9, "2024-01-02")], "id long, day string")
    overwrite_partitions(redo, path, ["day"])
    # partition-column type inference reads day back as DATE; compare as str
    back = sorted(
        (r["id"], str(r["day"])) for r in spark.read.parquet(path).collect()
    )
    assert back == [(1, "2024-01-01"), (2, "2024-01-01"), (9, "2024-01-02")]


def test_load_with_quarantine(spark, tmp_path, jobs_started):
    sc = spark.sparkContext
    evaluated = sc.accumulator(0)

    @F.udf("string")
    def counted(v):
        evaluated.add(1)
        return v

    df = spark.createDataFrame(
        [("i1", "a@b.c", "ACTIVE"), (None, "b@b.c", "ACTIVE"), ("i3", None, "BAD")],
        "id string, email string, status string",
    ).withColumn("email", counted("email"))
    # RDDs other tests persisted may be collected meanwhile, so compare ids
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    rep, n_jobs = jobs_started(lambda: load_with_quarantine(
        df, str(tmp_path / "good"), str(tmp_path / "quar")
    ))
    assert n_jobs == 2                         # one write per side, no counts
    assert (rep.total, rep.loaded, rep.quarantined) == (3, 1, 2)
    # the input is computed once for both sides, and its cache is gone
    assert evaluated.value == 3
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= persisted
    assert df.storageLevel == StorageLevel.NONE
    good = spark.read.parquet(str(tmp_path / "good"))
    quar = spark.read.parquet(str(tmp_path / "quar"))
    assert (good.count(), quar.count()) == (rep.loaded, rep.quarantined)
    assert "violations" in quar.columns

    # a frame the caller cached stays cached
    df.cache()
    try:
        load_with_quarantine(df, str(tmp_path / "good2"), str(tmp_path / "quar2"))
        assert df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist()


def test_media_feature_extraction(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNGdata", (4, 4, None)),
        (2, "audio", "audio/wav", b"RIFFdata", (None, None, 1200)),
        (3, "hologram", None, b"??", (None, None, None)),  # unsupported kind
        (4, "image", "image/png", b"\x89PNGdata", (4, 4, None)),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert feats[1]["decode_ok"] and feats[2]["decode_ok"]
    assert not feats[3]["decode_ok"]              # stub raises -> flagged
    assert feats[1]["sha256"] == feats[4]["sha256"]
    assert len(feats[1]["feat"]) == 8
    assert feats[1]["feat"] == feats[4]["feat"]   # deterministic

    kept = sorted(r["media_id"] for r in media_dedup_exact(df).collect())
    assert kept == [1, 2, 3]                      # dup 4 collapsed into 1


def test_resize_images_stub_exact(spark):
    import hashlib

    rows = [
        (1, "image", "image/png", b"\x89PNGdata", (4, 4, None)),
        (2, "audio", "audio/wav", b"RIFFdata", (None, None, 1200)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(df, 8, 8).collect()}
    # byte-exact vs a local replay of the stub chain
    block = hashlib.sha256(b"\x89PNGdata").digest()
    expected = b""
    while len(expected) < 64:
        block = hashlib.sha256(block).digest()
        expected += block
    assert bytes(out[1]["payload"]) == expected[:64]
    assert out[1]["resize_ok"] and out[1]["width"] == 8
    assert not out[2]["resize_ok"]                 # non-image passes through
    assert bytes(out[2]["payload"]) == b"RIFFdata"


def test_sample_frames_fanout_and_determinism(spark):
    import hashlib

    rows = [
        (1, "video", None, b"vid1", (None, None, 3500)),  # 4 frames @1000ms
        (2, "video", None, b"vid2", (None, None, 0)),     # 1 frame (zero dur)
        (3, "video", None, b"vid3", (None, None, None)),  # 1 frame (null dur)
        (4, "image", None, b"img", (2, 2, None)),         # skipped
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_frames(df, every_ms=1000, max_frames=4).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    assert sorted(len(v) for v in by_id.values()) == [1, 1, 4]
    assert 4 not in by_id
    f1 = sorted(by_id[1], key=lambda r: r["frame_idx"])
    assert [r["frame_ts_ms"] for r in f1] == [0, 1000, 2000, 3000]
    block = hashlib.sha256(b"vid1").digest()
    for r in f1:  # hash chain replays exactly
        block = hashlib.sha256(block).digest()
        assert r["frame_hash"] == block.hex()


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from firebase_etl_spark.sinks.files import compact_parquet
    from firebase_etl_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.001")
    path = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(path)  # simulate tiny-file buildup
    import os

    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    n_rows = li.count()
    after = compact_parquet(spark, path, target_file_mb=128)
    assert before == 64 and after < 8
    assert spark.read.parquet(path).count() == n_rows


class _FakeCursor:
    def __init__(self, fail_on=None):
        self.executed, self.closed, self.fail_on = [], False, fail_on

    def execute(self, stmt):
        if self.fail_on is not None and stmt == self.fail_on:
            raise RuntimeError(f"boom: {stmt}")
        self.executed.append(stmt)

    def close(self):
        self.closed = True


class _FakeConn:
    def __init__(self, fail_on=None):
        self.cur = _FakeCursor(fail_on)
        self.committed = self.rolled_back = self.conn_closed = False

    def cursor(self):
        return self.cur

    def commit(self):
        self.committed = True

    def rollback(self):
        self.rolled_back = True

    def close(self):
        self.conn_closed = True


def test_execute_batch_commits_once_after_all():
    from firebase_etl_spark.sources.jdbc import execute_batch

    conn = _FakeConn()
    n = execute_batch(lambda: conn, ["CREATE TABLE t (a int)", "INSERT INTO t VALUES (1)"])
    assert n == 2
    assert conn.cur.executed == ["CREATE TABLE t (a int)", "INSERT INTO t VALUES (1)"]
    assert conn.committed and not conn.rolled_back
    assert conn.cur.closed and conn.conn_closed


def test_execute_batch_rolls_back_on_failure():
    import pytest

    from firebase_etl_spark.sources.jdbc import execute_batch

    conn = _FakeConn(fail_on="BAD SQL")
    with pytest.raises(RuntimeError, match="boom"):
        execute_batch(lambda: conn, ["INSERT INTO t VALUES (1)", "BAD SQL", "never"])
    assert conn.rolled_back and not conn.committed
    assert "never" not in conn.cur.executed
    assert conn.cur.closed and conn.conn_closed


def test_sqlstore_partitioned_scan_complete_and_pushed(spark, tmp_path):
    """Live partitioned scan of a DuckDB file: (1) 8-way range striping
    loses and duplicates nothing vs the source table; (2) a filter on a
    non-partition column is CONSUMED into the database WHERE clause;
    (3) schema introspection maps the database types."""
    import duckdb
    from pyspark.sql import functions as F

    from firebase_etl_spark.sources.sqlstore_datasource import (
        SqlStoreDataSource,
        SqlStoreReader,
    )

    db = str(tmp_path / "w.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE t AS SELECT range AS id, "
        "CASE WHEN range % 3 = 0 THEN 'a' ELSE 'b' END AS grp, "
        "range * 1.5 AS val FROM range(1000)"
    )
    con.close()

    spark.dataSource.register(SqlStoreDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("sqlstore")
        .option("path", db)
        .option("table", "t")
        .option("partitionColumn", "id")
        .option("numPartitions", "8")
        .load()
    )
    assert [f.name for f in df.schema.fields] == ["id", "grp", "val"]
    assert df.count() == 1000
    assert df.select(F.sum("id")).collect()[0][0] == 999 * 1000 // 2
    assert df.select("id").distinct().count() == 1000  # no dup stripes
    got = df.filter(F.col("grp") == "a").count()
    assert got == 334  # 0,3,...,999

    # pushFilters consumes supported predicates (unit-level)
    from pyspark.sql.datasource import EqualTo, GreaterThan, StringStartsWith

    r = SqlStoreReader(
        {"path": db, "table": "t", "partitioncolumn": "id",
         "numpartitions": "4"},
        df.schema,
    )
    leftover = list(
        r.pushFilters(
            [EqualTo(("grp",), "a"), GreaterThan(("id",), 10),
             StringStartsWith(("grp",), "a%c")]
        )
    )
    assert leftover == []  # all three compiled into SQL
    assert any('"grp" = ?' in p for p in r.pushed)
    assert any('"id" > ?' in p for p in r.pushed)
    assert any("LIKE ? ESCAPE" in p for p in r.pushed)
    assert r.pushed_params == ["a", 10, "a\\%c%"]  # bound, never inlined
    # partition stripes: unbounded first (with NULL catch-all) and last
    parts = r.partitions()
    assert len(parts) == 4
    assert "IS NULL" in parts[0].where and parts[-1].where.startswith('"id" >=')


def test_sqlstore_writer_two_phase_append_upsert_overwrite(spark, tmp_path):
    """K3/K5 live through the sqlstore writer: staged-parquet tasks, one
    driver transaction. Append adds rows; upsert (delete-then-insert on
    the key) replaces matches and inserts the rest; overwrite truncates
    first; the staging directory is gone after every job."""
    import glob

    import duckdb

    from firebase_etl_spark.sources.sqlstore_datasource import (
        SqlStoreDataSource,
    )

    db = str(tmp_path / "w.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE kv (id BIGINT, val VARCHAR)"
    )
    con.execute("INSERT INTO kv VALUES (1, 'one'), (2, 'two')")
    con.close()
    spark.dataSource.register(SqlStoreDataSource)

    def table_rows():
        c = duckdb.connect(db, read_only=True)
        try:
            return sorted(c.execute("SELECT * FROM kv").fetchall())
        finally:
            c.close()

    def w(df):
        return df.write.format("sqlstore").option("path", db).option(
            "table", "kv"
        )

    # append (K3): batched, one transaction
    w(spark.createDataFrame([(3, "three")], "id long, val string")).mode(
        "append"
    ).save()
    assert table_rows() == [(1, "one"), (2, "two"), (3, "three")]

    # upsert (K5): key match replaced, new key inserted
    up = spark.createDataFrame(
        [(2, "TWO"), (4, "four")], "id long, val string"
    )
    w(up).option("upsertKeys", "id").mode("append").save()
    assert table_rows() == [
        (1, "one"), (2, "TWO"), (3, "three"), (4, "four"),
    ]

    # overwrite: truncate-then-load in the same transaction
    w(spark.createDataFrame([(9, "nine")], "id long, val string")).mode(
        "overwrite"
    ).save()
    assert table_rows() == [(9, "nine")]

    # no staging litter left behind
    assert glob.glob(f"{db}.staging-*") == []

    # overwrite with an EMPTY DataFrame still truncates (Spark/JDBC
    # overwrite semantics are row-count-independent; silently keeping
    # old contents was a review finding)
    w(spark.createDataFrame([], "id long, val string")).mode(
        "overwrite"
    ).save()
    assert table_rows() == []


def test_sqlstore_reader_rejects_unmapped_schema_type(tmp_path):
    """A user-supplied .schema() with a type outside the CAST map must
    fail at PLANNING time with a named error, not as a bare KeyError
    inside a task at runtime (review finding)."""
    import pytest
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    from firebase_etl_spark.sources.sqlstore_datasource import SqlStoreReader

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("flag", BooleanType()),
        ]
    )
    with pytest.raises(ValueError, match="flag.*boolean"):
        SqlStoreReader({"path": "x.db", "table": "t"}, schema)


def test_sqlstore_stream_reader_incremental_exactly_once(spark, tmp_path):
    """S8-S10 streaming complement: high-watermark tailing by an
    incrementing cursor. Three availableNow runs over one checkpoint:
    initial load, delta-only after inserts, empty when idle — the
    checkpointed offset survives query restarts."""
    import duckdb

    from firebase_etl_spark.sources.sqlstore_datasource import (
        SqlStoreDataSource,
    )

    db = str(tmp_path / "s.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t (k BIGINT, v VARCHAR)")
    con.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    con.close()
    spark.dataSource.register(SqlStoreDataSource)
    ckpt = str(tmp_path / "ckpt")
    got: list = []

    def run_once():
        q = (
            spark.readStream.format("sqlstore")
            .option("path", db)
            .option("table", "t")
            .option("streamkey", "k")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: got.append(sorted(map(tuple, df.collect())))
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert [r for b in got for r in b] == [(1, "a"), (2, "b")]

    con = duckdb.connect(db)
    con.execute("INSERT INTO t VALUES (3, 'c'), (4, 'd')")
    con.close()
    got.clear()
    run_once()
    assert [r for b in got for r in b] == [(3, "c"), (4, "d")]

    got.clear()
    run_once()
    assert [r for b in got for r in b] == []


def test_parquet_schema_evolution_roundtrip(spark, tmp_path):
    """Three schema generations appended to one landing zone: mergeSchema
    unions columns by name, missing fields are NULL per generation, and
    a type-stable shared column aggregates across all generations."""
    from firebase_etl_spark.sinks.files import append_evolved, read_evolved

    path = str(tmp_path / "landing")
    g1 = spark.createDataFrame(
        [(1, "a@x.com"), (2, "b@x.com")], "id long, email string"
    )
    g2 = spark.createDataFrame(
        [(3, "c@x.com", "555-1")], "id long, email string, phoneNumber string"
    )
    g3 = spark.createDataFrame(  # column dropped + new column
        [(4, True)], "id long, emailVerified boolean"
    )
    for g in (g1, g2, g3):
        append_evolved(g, path)
    out = read_evolved(spark, path)
    assert set(out.columns) == {"id", "email", "phoneNumber", "emailVerified"}
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[1]["phoneNumber"] is None and rows[1]["emailVerified"] is None
    assert rows[3]["phoneNumber"] == "555-1"
    assert rows[4]["email"] is None and rows[4]["emailVerified"] is True
    assert out.filter("email IS NOT NULL").count() == 3


def test_bmp_roundtrip_all_padding_widths():
    """encode->decode is identity for every row-padding case (width%4
    in 0..3) and several heights."""
    from firebase_etl_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
    )

    for w in (1, 2, 3, 4, 5, 7, 8):
        for h in (1, 2, 3):
            rows = [
                [((x * 7 + y * 13) % 256, (x + y) % 256, (x * y) % 256)
                 for x in range(w)]
                for y in range(h)
            ]
            payload = encode_bmp24(w, h, rows)
            # stride padded to 4-byte multiple, headers 54 bytes
            stride = w * 3 + ((-(w * 3)) % 4)
            assert len(payload) == 54 + stride * h
            assert payload[:2] == b"BM"
            assert decode_bmp24(payload) == (w, h, rows)


def test_bmp_golden_bytes():
    """Byte-exact golden: a 2x2 image with known pixels produces the
    exact BMP layout (bottom-up rows, BGR order, 2-byte padding)."""
    from firebase_etl_spark.operators.multimodal import encode_bmp24

    rows = [
        [(1, 2, 3), (4, 5, 6)],      # top row
        [(7, 8, 9), (10, 11, 12)],   # bottom row
    ]
    p = encode_bmp24(2, 2, rows)
    assert p[:2] == b"BM"
    assert int.from_bytes(p[10:14], "little") == 54      # pixel offset
    assert int.from_bytes(p[18:22], "little") == 2       # width
    assert int.from_bytes(p[22:26], "little") == 2       # height
    assert int.from_bytes(p[28:30], "little") == 24      # bpp
    assert int.from_bytes(p[30:34], "little") == 0       # BI_RGB
    # bottom row first, BGR, then 2 pad bytes per row
    assert p[54:62] == bytes([7, 8, 9, 10, 11, 12, 0, 0])
    assert p[62:70] == bytes([1, 2, 3, 4, 5, 6, 0, 0])


def test_bmp_decode_rejects_non_bmp():
    import pytest as _pytest

    from firebase_etl_spark.operators.multimodal import decode_bmp24

    with _pytest.raises(ValueError):
        decode_bmp24(b"not a bitmap at all........................")
    with _pytest.raises(ValueError):
        decode_bmp24(b"")


def test_bmp_nearest_resize_matches_floor_math():
    from firebase_etl_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
        resize_bmp24_nearest,
    )

    w, h = 5, 4
    rows = [
        [((x * 50 + y) % 256, (y * 60 + x) % 256, (x + y * 3) % 256)
         for x in range(w)]
        for y in range(h)
    ]
    thumb = resize_bmp24_nearest(encode_bmp24(w, h, rows), 3, 2)
    tw, th, trows = decode_bmp24(thumb)
    assert (tw, th) == (3, 2)
    for y in range(2):
        for x in range(3):
            assert trows[y][x] == rows[(y * h) // 2][(x * w) // 3]


def test_feature_dispatch_takes_real_path_for_bmp(spark):
    """extract_media_features routes BMP image payloads through the
    REAL decoder (marker 1.0 in feat[7], mean channels from pixels)."""
    from firebase_etl_spark.operators.multimodal import (
        encode_bmp24,
        extract_media_features,
    )

    rows = [[(255, 0, 0), (255, 0, 0)]]  # 2x1 pure blue
    bmp = encode_bmp24(2, 1, rows)
    df = spark.createDataFrame(
        [(1, "image", None, bmp, None), (2, "audio", None, b"xx", None)],
        "media_id long, kind string, mime string, payload binary,"
        " meta struct<width:int,height:int,duration_ms:int>",
    )
    got = {r["media_id"]: r for r in extract_media_features(df).collect()}
    f = got[1]["feat"]
    assert f[7] == 1.0 and f[0] == 2.0 and f[1] == 1.0
    assert abs(f[2] - 1.0) < 1e-6 and f[3] == 0.0 and f[4] == 0.0
    assert got[2]["feat"][0] != 1.0 or len(got[2]["feat"]) == 8  # stub path


def test_wav_roundtrip_and_golden_bytes():
    from firebase_etl_spark.operators.multimodal import (
        decode_wav16,
        encode_wav16,
    )

    samples = [0, 1, -1, 32767, -32768, 1234]
    p = encode_wav16(8000, 2, samples)
    assert p[:4] == b"RIFF" and p[8:12] == b"WAVE"
    assert decode_wav16(p) == (8000, 2, samples)
    # golden layout: fmt chunk at 12, PCM=1, 2ch, rate, block align 4
    assert p[12:16] == b"fmt " and int.from_bytes(p[16:20], "little") == 16
    assert int.from_bytes(p[20:22], "little") == 1
    assert int.from_bytes(p[22:24], "little") == 2
    assert int.from_bytes(p[24:28], "little") == 8000
    assert int.from_bytes(p[32:34], "little") == 4
    assert p[36:40] == b"data"
    assert p[44:46] == b"\x00\x00"            # sample 0
    assert p[46:48] == b"\x01\x00"            # sample 1
    assert p[48:50] == b"\xff\xff"            # sample -1


def test_wav_decode_skips_unknown_chunks_and_rejects_junk():
    import pytest as _pytest

    from firebase_etl_spark.operators.multimodal import (
        decode_wav16,
        encode_wav16,
    )

    p = encode_wav16(44100, 1, [7, -7, 300])
    # splice an unknown odd-sized chunk between WAVE and fmt: a
    # conforming reader skips it with word alignment
    extra = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    spliced = p[:12] + extra + p[12:]
    spliced = (
        spliced[:4]
        + (len(spliced) - 8).to_bytes(4, "little")
        + spliced[8:]
    )
    assert decode_wav16(spliced) == (44100, 1, [7, -7, 300])
    with _pytest.raises(ValueError):
        decode_wav16(b"RIFFxxxxJUNK")
    with _pytest.raises(ValueError):
        decode_wav16(b"")


def test_bmp_decode_rejects_offset_into_header():
    """ADVICE r6: an offset pointing into the 54-byte header passed the
    length check and read header bytes as pixels — must raise now."""
    import pytest as _pytest

    from firebase_etl_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
    )

    p = bytearray(encode_bmp24(2, 2, [[(1, 2, 3), (4, 5, 6)]] * 2))
    p[10:14] = (20).to_bytes(4, "little")  # offset inside the header
    with _pytest.raises(ValueError, match="offset"):
        decode_bmp24(bytes(p))
    p[10:14] = (10_000).to_bytes(4, "little")  # offset past payload
    with _pytest.raises(ValueError):
        decode_bmp24(bytes(p))


def test_wav_decode_rejects_truncated_data_chunk():
    """ADVICE r6: a data chunk whose declared size runs past the end of
    the payload was silently sliced short (plausible-but-wrong stats);
    truncated clips must be rejected."""
    import pytest as _pytest

    from firebase_etl_spark.operators.multimodal import (
        decode_wav16,
        encode_wav16,
    )

    p = encode_wav16(8000, 1, [7, -7, 300, -300])
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav16(p[:-3])  # cut mid-sample: declared size > payload
    # declared size inflated without adding bytes: also truncated
    q = bytearray(p)
    data_at = p.index(b"data")
    q[data_at + 4:data_at + 8] = (1 << 20).to_bytes(4, "little")
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav16(bytes(q))


def _avi_frames(w, h, nf):
    return [
        [[((f * 31 + x * 7 + y * 13) % 256, (f + x + y) % 256,
           (f * x * y) % 256) for x in range(w)] for y in range(h)]
        for f in range(nf)
    ]


def test_avi_roundtrip_all_paddings_and_frame_counts():
    """encode->decode is identity for every row-padding case and
    several frame counts; the container layout is genuine RIFF."""
    from firebase_etl_spark.operators.multimodal import (
        decode_avi_rgb,
        encode_avi_rgb,
    )

    for w in (1, 2, 3, 4, 5):
        for h in (1, 3):
            for nf in (1, 2, 4):
                frames = _avi_frames(w, h, nf)
                p = encode_avi_rgb(w, h, frames, fps=10)
                assert p[:4] == b"RIFF" and p[8:12] == b"AVI "
                assert decode_avi_rgb(p) == (w, h, 10, frames)


def test_avi_golden_layout():
    """The header fields land where the public spec puts them: avih
    frame period/count/dims, strh 'vids'/'DIB ', strf 24bpp BI_RGB,
    movi '00db' frames carrying the exact DIB bytes."""
    from firebase_etl_spark.operators.multimodal import encode_avi_rgb

    frames = [[[(1, 2, 3), (4, 5, 6)]], [[(7, 8, 9), (10, 11, 12)]]]
    p = encode_avi_rgb(2, 1, frames, fps=25)
    a = p.index(b"avih") + 8
    assert int.from_bytes(p[a:a + 4], "little") == 40000   # usec/frame
    assert int.from_bytes(p[a + 16:a + 20], "little") == 2  # frames
    assert int.from_bytes(p[a + 32:a + 36], "little") == 2  # width
    assert int.from_bytes(p[a + 36:a + 40], "little") == 1  # height
    s = p.index(b"strh") + 8
    assert p[s:s + 4] == b"vids" and p[s + 4:s + 8] == b"DIB "
    f = p.index(b"strf") + 8
    assert int.from_bytes(p[f + 14:f + 16], "little") == 24  # bpp
    assert int.from_bytes(p[f + 16:f + 20], "little") == 0   # BI_RGB
    m = p.index(b"movi")
    # first frame chunk: BGR + 2 pad bytes (stride 8 for width 2)
    assert p[m + 4:m + 8] == b"00db"
    assert p[m + 12:m + 20] == bytes([1, 2, 3, 4, 5, 6, 0, 0])


def test_avi_decode_rejects_junk_truncation_and_count_mismatch():
    import pytest as _pytest

    from firebase_etl_spark.operators.multimodal import (
        decode_avi_rgb,
        encode_avi_rgb,
    )

    with _pytest.raises(ValueError):
        decode_avi_rgb(b"RIFFxxxxWAVE")  # a WAV is not an AVI
    with _pytest.raises(ValueError):
        decode_avi_rgb(b"")
    p = encode_avi_rgb(2, 2, _avi_frames(2, 2, 2), fps=10)
    with _pytest.raises(ValueError, match="truncated"):
        decode_avi_rgb(p[:-5])
    # an AVI whose hdrl lacks strf must NOT silently decode frames as
    # 24bpp DIB (the frame format would be a guess): excise the strl
    # LIST and expect a loud rejection
    strl_at = p.index(b"strl") - 8  # back to the LIST header
    strl_size = int.from_bytes(p[strl_at + 4:strl_at + 8], "little")
    no_strl = bytearray(p[:strl_at] + p[strl_at + 8 + strl_size:])
    # shrink the enclosing hdrl LIST and RIFF sizes accordingly
    h = no_strl.index(b"hdrl") - 8
    hs = int.from_bytes(no_strl[h + 4:h + 8], "little")
    no_strl[h + 4:h + 8] = (hs - 8 - strl_size).to_bytes(4, "little")
    no_strl[4:8] = (len(no_strl) - 8).to_bytes(4, "little")
    with _pytest.raises(ValueError, match="strf"):
        decode_avi_rgb(bytes(no_strl))
    bad = bytearray(p)
    i = bad.index(b"avih") + 8 + 16
    bad[i:i + 4] = (9).to_bytes(4, "little")  # header lies about count
    with _pytest.raises(ValueError, match="frame count"):
        decode_avi_rgb(bytes(bad))


def test_sample_frames_decodes_real_avi_frames(spark):
    """sample_frames takes the REAL path for AVI payloads: one row per
    sampled REAL frame, frame_hash = sha256 of the decoded pixel
    bytes, timestamps from the container's own frame rate."""
    import hashlib as _hl

    from firebase_etl_spark.operators.multimodal import (
        encode_avi_rgb,
        sample_frames,
    )

    frames = _avi_frames(2, 2, 3)
    avi = encode_avi_rgb(2, 2, frames, fps=1)  # 1 fps -> all 3 sampled
    df = spark.createDataFrame(
        [(1, "video", None, avi, None), (2, "video", None, b"junk", None)],
        "media_id long, kind string, mime string, payload binary,"
        " meta struct<width:int,height:int,duration_ms:int>",
    )
    rows = sample_frames(df, every_ms=1000, max_frames=4).collect()
    real = sorted(
        (r for r in rows if r["media_id"] == 1),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_ts_ms"] for r in real] == [0, 1000, 2000]
    for i, r in enumerate(real):
        fb = bytes(c for row in frames[i] for px in row for c in px)
        assert r["frame_hash"] == _hl.sha256(fb).hexdigest()
    # non-AVI video rows keep the deterministic stub (single frame,
    # NULL duration)
    stub = [r for r in rows if r["media_id"] == 2]
    assert len(stub) == 1 and stub[0]["frame_ts_ms"] == 0


def test_feature_dispatch_takes_real_path_for_avi(spark):
    from firebase_etl_spark.operators.multimodal import (
        encode_avi_rgb,
        extract_media_features,
    )

    frames = [[[(255, 0, 0)]], [[(255, 0, 0)]]]  # 2 frames of pure blue
    avi = encode_avi_rgb(1, 1, frames, fps=10)
    df = spark.createDataFrame(
        [(1, "video", None, avi, None)],
        "media_id long, kind string, mime string, payload binary,"
        " meta struct<width:int,height:int,duration_ms:int>",
    )
    f = extract_media_features(df).collect()[0]["feat"]
    assert f[7] == 1.0  # real-decode marker
    assert f[0] == 1.0 and f[1] == 1.0 and f[2] == 2.0 and f[3] == 10.0
    assert abs(f[4] - 1.0) < 1e-6  # mean blue
    assert f[5] == 200.0  # 2 frames at 10 fps = 200 ms


def test_feature_dispatch_takes_real_path_for_wav(spark):
    from firebase_etl_spark.operators.multimodal import (
        encode_wav16,
        extract_media_features,
    )

    wav = encode_wav16(8000, 1, [16384, -16384])  # |amp| = 0.5 mean
    df = spark.createDataFrame(
        [(1, "audio", None, wav, None)],
        "media_id long, kind string, mime string, payload binary,"
        " meta struct<width:int,height:int,duration_ms:int>",
    )
    f = extract_media_features(df).collect()[0]["feat"]
    assert f[7] == 1.0 and f[0] == 1.0 and f[1] == 8000.0 and f[2] == 2.0
    assert abs(f[3] - 0.5) < 1e-6 and abs(f[4] - 0.5) < 1e-6
