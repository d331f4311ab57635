"""Structured Streaming twins of the batch operators (SURVEY.md §2.12, §7.2
step 9): the reference is strictly batch, so these are the planned streaming
extension — windowed aggregation with watermarks, streaming dedup, and
session windows over the ``events`` table.

Bounded drives: ``_drive_available`` runs a writer with
``trigger(availableNow=True)`` on the caller's session and blocks until the
query ends. The engine processes everything the source holds at start, then
runs the final no-data batch that advances the watermark, so append-mode
windows are flushed before the query stops. Each drive gets a fresh
checkpoint that is removed afterwards and changes no session conf, so drives
may run concurrently on one session. ``run_stream_to_memory`` collects into
a memory sink, ``stream_upsert_parquet`` upserts into parquet. The same
plans bind to Kafka/file sources in production — the transformations are
source-agnostic.

Scale notes: watermarks bound state; ``dropDuplicatesWithinWatermark``
keeps the dedup state window-local instead of unbounded; session windows
use the native ``session_window`` operator (state merges are handled by
the engine, no applyInPandasWithState needed for gap sessions).
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from firebase_etl_spark.schemas import EVENTS_RAW_SCHEMA
from firebase_etl_spark.sources.tables import events_ts_to_timestamp


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming read of the events parquet (file source). One file per
    micro-batch locally; on a cluster this is the pattern for a landing-zone
    directory fed by an ingestion job. ``ts`` is read and converted as the
    batch loader does (``sources.tables.load_table``)."""
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA).option("maxFilesPerTrigger", 1)
    if os.path.isfile(path):
        # file source wants a directory: point at the parent + glob filter
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return events_ts_to_timestamp(reader.parquet(path))


def streaming_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding) windowed counts+sums per event_type with a
    watermark for late data. Streaming twin of events_hourly_stats."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of the dedup operator: drop duplicate events by key
    within the watermark horizon — state stays bounded by event time."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def streaming_sessionization(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per user: events separated by < gap merge into one
    session. Native session_window — engine-managed merging state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


#: memory-sink query names; the view a drive registers is dropped after it
_sink_ids = itertools.count()


def _drive_available(writer: DataStreamWriter) -> None:
    """Run ``writer`` over all input available at start, then stop.

    The checkpoint is fresh per drive and removed afterwards; it goes on
    tmpfs when available — state durability across driver restarts is a
    production-checkpoint (object-store path) concern, not a bounded-drive
    concern. State partitions are the session's
    ``spark.sql.shuffle.partitions``."""
    root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix="spark-stream-ckpt-", dir=root)
    try:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_stream_to_memory(plan: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drive a bounded streaming plan to completion into an in-memory sink;
    returns the materialized result as a batch DataFrame. The sink's temp
    view is dropped before returning; the frame keeps the sink's rows."""
    spark = plan.sparkSession
    name = f"stream_sink_{next(_sink_ids)}"
    try:
        _drive_available(
            plan.writeStream.outputMode(output_mode).format("memory").queryName(name)
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def streaming_keep_latest(
    events: DataFrame,
    key: str = "user_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): last-write-wins
    materialization per key — the streaming twin of dedup keep-latest
    (operators/dedup.py) expressed as explicit state instead of a window.

    Per key, state holds the max event time + that event's payload; each
    micro-batch merges its rows into state and emits the current winner, so
    the sink sees an upsert stream (one row per key per batch it changed
    in). State is one tuple per key — bounded by key cardinality, not
    event count; a watermark-based timeout would age out idle keys when
    key space is unbounded.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} long, ts timestamp, event_id long, event_type string, value double"
    )
    state_schema = "ts_micros long, event_id long, event_type string, value double"

    def update(key_tuple, pdfs, state: GroupState):
        best = None  # (ts_micros, event_id, event_type, value)
        if state.exists:
            best = tuple(state.get)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # vectorized keep-latest: greater (ts, event_id) wins — explicit
            # tiebreak, same ordering as the batch operator. Per-row Python
            # would dominate wall time at thousands of groups per batch.
            # Arrow may hand the batch over as datetime64[ns] OR
            # datetime64[us] depending on session confs/pandas version — a
            # bare astype(int64) silently yields different units, so pin the
            # unit before going to integers.
            micros = pdf["ts"].astype("datetime64[us]").astype("int64")
            top = micros == micros.max()
            eids = pdf["event_id"][top]
            i = eids.index[eids.to_numpy().argmax()]
            cand = (
                int(micros[i]),
                int(pdf["event_id"][i]),
                str(pdf["event_type"][i]),
                float(pdf["value"][i]),
            )
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        if best is not None:
            state.update(best)
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]],
                    "ts": [pd.Timestamp(best[0], unit="us")],
                    "event_id": [best[1]],
                    "event_type": [best[2]],
                    "value": [best[3]],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .select(key, "ts", "event_id", "event_type", "value")
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_upsert_parquet(plan: DataFrame, path: str, key: str) -> None:
    """Production-shaped streaming sink: foreachBatch drives each
    micro-batch through the batch upsert (sinks/merge.py), so the target
    parquet is a keyed materialized view of the stream — last write per key
    wins within a batch, later batches overwrite earlier keys. The same
    foreachBatch body targets Delta/Iceberg MERGE or a JDBC upsert in
    production; foreachBatch is the bridge that reuses batch sinks from
    streaming without a dedicated connector."""
    from firebase_etl_spark.sinks.merge import upsert

    spark = plan.sparkSession

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not os.path.isdir(path):
            batch_df.write.mode("overwrite").parquet(path)
            return
        merged = upsert(spark.read.parquet(path), batch_df, key)
        staged = f"{path.rstrip('/')}.staging"
        # materialize to staging BEFORE touching the dir being read, then swap
        merged.write.mode("overwrite").parquet(staged)
        shutil.rmtree(path)
        os.replace(staged, path)

    _drive_available(plan.writeStream.outputMode("update").foreachBatch(sink))


def streaming_enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_cols: tuple[str, ...] = ("c_mktsegment",),
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup — the standard
    streaming-fact/dimension pattern: the static side broadcasts into every
    micro-batch (no state), the post-join windowed aggregate carries the
    only state, bounded by the watermark. At scale the dimension re-reads
    per batch pick up slowly-changing updates for free."""
    joined = events.join(
        F.broadcast(dim.select(F.col(dim_key), *[F.col(c) for c in dim_cols])),
        events[stream_key] == F.col(dim_key),
        "left",
    )
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), *[F.col(c) for c in dim_cols])
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *dim_cols,
            "n_events",
            "total_value",
        )
    )


def streaming_self_join_near_pairs(
    left: DataFrame,
    right: DataFrame,
    within_seconds: int = 120,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join with a time-interval condition — the
    correlation pattern (two event feeds matched within a window). Both
    sides carry watermarks so the join state is range-bounded: a buffered
    row ages out once the opposite watermark passes its interval. Inner
    joins emit matches as both sides arrive, so a bounded run produces the
    complete deterministic pair set.

    Count aggregation happens downstream in BATCH (over the materialized
    join output): chaining another streaming agg after a stream-stream
    join would need its own watermark epoch and complete-mode semantics —
    the join itself is the streaming-shaped work here."""
    a = left.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id"),
        F.col("ts").alias("ts_a"),
    ).withWatermark("ts_a", watermark)
    b = right.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
    ).withWatermark("ts_b", watermark)
    return a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("ts_b") >= F.col("ts_a") - F.expr(f"INTERVAL {within_seconds} SECONDS"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"INTERVAL {within_seconds} SECONDS")),
    ).select("user_id", "id_a", "id_b")


def streaming_transition_counts(
    events: DataFrame, key: str = "user_id", watermark: str = "2 hours"
):
    """Stateful SEQUENCE operator (applyInPandasWithState): first-order
    transition counts over each user's event stream — the streaming twin
    of the batch Markov transition matrix (plans/queries_ext.py:
    events_transition_matrix). Unlike keep-latest (order-insensitive
    max), transitions are order-SENSITIVE, so per-key state carries the
    LAST event (ts, id, type): each micro-batch sorts its rows by
    (ts, event_id), walks the chain (state -> first row -> ... -> last
    row), emits one increment row per observed (cur, next) pair, and
    advances state — cross-batch transitions are never lost.

    Ordering contract: the source must feed event-time-ordered batches
    per key (true for the time-sorted fixture file and for any
    log-structured source; a fully out-of-order source needs a
    watermark-delayed sort buffer first — the general solution, noted
    rather than built). State is one tuple per key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, cur_type string, next_type string, n long"
    state_schema = "ts_micros long, event_id long, event_type string"

    def update(key_tuple, pdfs, state: GroupState):
        from collections import Counter

        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        micros = pdf["ts"].astype("datetime64[us]").astype("int64")
        pdf = pdf.assign(__us=micros).sort_values(["__us", "event_id"])
        types = [str(t) for t in pdf["event_type"]]
        prev = tuple(state.get) if state.exists else None
        seq = ([prev[2]] if prev is not None else []) + types
        counts = Counter(zip(seq, seq[1:]))
        last = pdf.iloc[-1]
        state.update(
            (int(last["__us"]), int(last["event_id"]), str(last["event_type"]))
        )
        if counts:
            yield pd.DataFrame(
                {
                    "user_id": [key_tuple[0]] * len(counts),
                    "cur_type": [a for a, _ in counts],
                    "next_type": [b for _, b in counts],
                    "n": [int(v) for v in counts.values()],
                }
            )

    from pyspark.sql import functions as F

    return (
        events.withWatermark("ts", watermark)
        .filter(F.col(key).isNotNull() & F.col("event_type").isNotNull())
        .select(F.col(key).alias("user_id"), "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_kmv_distinct(
    events: DataFrame, key: str = "event_type", k: int = 64
):
    """Stateful KMV / bottom-k DISTINCT sketch per key
    (applyInPandasWithState) — the streaming twin of the batch
    heavy_hitters.kmv_set_ops_report estimator: per-key state is the k
    smallest md5 hashes of the ids seen so far, each micro-batch folds
    its rows into the minima set and emits the updated (count-seen,
    sketch-size, kth-hash, distinct-estimate) row.

    Why this is oracle-checkable at all: the state is a pure function
    of the SET of inputs — minima are order- and batching-insensitive —
    so the emission with the highest ``n_seen`` per key (the complete
    drive) is bit-identical to a batch bottom-k over the full table,
    integers throughout. Per-key state is k BIGINTs, the streaming
    answer to count-distinct without unbounded dedup state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from firebase_etl_spark.operators.heavy_hitters import KMV_SCALE

    out_schema = (
        "g string, n_seen long, n_sk long, h_k long, est_distinct long"
    )
    state_schema = "mins array<long>, n_seen long"

    def update(key_tuple, pdfs, state: GroupState):
        if state.exists:
            prior_mins, prior_seen = state.get
            cur = set(int(h) for h in prior_mins)
            seen = int(prior_seen)
        else:
            cur, seen = set(), 0
        added = 0
        for pdf in pdfs:
            if len(pdf):
                cur.update(int(h) for h in pdf["h"])
                added += len(pdf)
        if not added:
            return
        seen += added
        mins = sorted(cur)[:k]
        state.update((mins, seen))
        n = len(mins)
        hk = mins[-1] if mins else 0
        # hk == 0 (k ids whose md5 prefix is all zeros, ~k*2^-52): the
        # sketch holds only collided-to-zero hashes, so n IS the best
        # estimate — and the guard keeps the stream alive (ADVICE r7)
        est = n if (n < k or hk == 0) else (k - 1) * KMV_SCALE // hk
        yield pd.DataFrame(
            {
                "g": [str(key_tuple[0])],
                "n_seen": [seen],
                "n_sk": [n],
                "h_k": [hk],
                "est_distinct": [est],
            }
        )

    from pyspark.sql import functions as F

    hashed = (
        events.filter(
            F.col(key).isNotNull() & F.col("user_id").isNotNull()
        )
        .select(
            F.col(key).alias("g"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("kmv|"), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
    )
    return hashed.groupBy("g").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_count_min(
    events: DataFrame,
    probe_users: list[int],
    key: str = "event_type",
    width: int = 256,
    depth: int = 4,
):
    """Stateful Count-Min frequency sketch per key
    (applyInPandasWithState) — the streaming twin of the batch
    heavy_hitters.count_min_report, and the frequency complement to
    streaming_kmv_distinct (KMV answers "how many distinct", this
    answers "how often is X") with depth*width BIGINTs of state per
    key instead of an unbounded per-user count map.

    Counters are SUMS — a pure function of the input multiset,
    batching- and order-insensitive — so the final emission per key
    (highest n_seen) is bit-identical to the batch sketch the oracle
    replays; per-probe estimates (min over rows) are exact integers
    and always >= the true count. Hash rows reuse the portable
    'cms{r}|{v}' md5 scheme, so engines and the oracle agree byte for
    byte."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    probes = [str(int(u)) for u in probe_users]
    out_cols = ", ".join(
        f"est_u{u} long" for u in probe_users
    )
    out_schema = f"g string, n_seen long, {out_cols}"
    state_schema = "counters array<long>, n_seen long"

    import hashlib

    def _col(r: int, v: str) -> int:
        h = hashlib.md5(f"cms{r}|{v}".encode()).hexdigest()
        return int(h[:15], 16) % width

    probe_cols = [
        [_col(r, p) for r in range(depth)] for p in probes
    ]

    def update(key_tuple, pdfs, state: GroupState):
        if state.exists:
            counters, seen = state.get
            counters = list(counters)
            seen = int(seen)
        else:
            counters, seen = [0] * (width * depth), 0
        added = 0
        for pdf in pdfs:
            for v in pdf["v"]:
                s = str(v)
                for r in range(depth):
                    counters[r * width + _col(r, s)] += 1
                added += 1
        if not added:
            return
        seen += added
        state.update((counters, seen))
        row = {"g": [str(key_tuple[0])], "n_seen": [seen]}
        for u, cols in zip(probe_users, probe_cols):
            row[f"est_u{u}"] = [
                min(counters[r * width + c] for r, c in enumerate(cols))
            ]
        yield pd.DataFrame(row)

    src = events.filter(
        F.col(key).isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col(key).alias("g"), F.col("user_id").cast("string").alias("v")
    )
    return src.groupBy("g").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ab_monitor(events: DataFrame):
    """Stateful streaming A/B monitor — twin #12: per event type,
    cumulative EXACT integer Welch moments of the id-parity
    experiment (n/sum/sum-of-squares per arm), the state a live
    experimentation platform keeps so every micro-batch can re-read
    the z statistic without rescanning history.

    The state is six BIGINT sums + n_seen — pure functions of the
    input multiset, batching- and order-insensitive — so the final
    emission per key (highest n_seen) is bit-identical to the batch
    moments and the oracle replays them with one aggregate. The z
    statistic itself is NOT computed here: the consumer applies the
    shared welch_z_sql() tree ENGINE-side on the final rows (zero
    Python float ops in the stateful path — nothing to drift).
    Emits (g, n_seen, na, sa, ssa, nb, sb, ssb) per key per batch."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = (
        "g string, n_seen long, na long, sa long, ssa long,"
        " nb long, sb long, ssb long"
    )
    state_schema = (
        "na long, sa long, ssa long, nb long, sb long, ssb long,"
        " n_seen long"
    )

    def update(key_tuple, pdfs, state: GroupState):
        if state.exists:
            na, sa, ssa, nb, sb, ssb, seen = (
                int(x) for x in state.get
            )
        else:
            na = sa = ssa = nb = sb = ssb = seen = 0
        added = 0
        for pdf in pdfs:
            for arm, v in zip(pdf["arm"], pdf["v"]):
                v = int(v)
                if int(arm) == 0:
                    na += 1
                    sa += v
                    ssa += v * v
                else:
                    nb += 1
                    sb += v
                    ssb += v * v
                added += 1
        if not added:
            return
        seen += added
        state.update((na, sa, ssa, nb, sb, ssb, seen))
        yield pd.DataFrame(
            {
                "g": [str(key_tuple[0])],
                "n_seen": [seen],
                "na": [na], "sa": [sa], "ssa": [ssa],
                "nb": [nb], "sb": [sb], "ssb": [ssb],
            }
        )

    src = events.filter(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.expr("CAST(round(value * 100.0, 0) AS BIGINT)").alias("v"),
    )
    return src.groupBy("g").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hll_distinct(
    events: DataFrame, key: str = "event_type"
):
    """Stateful HyperLogLog DISTINCT sketch per key
    (applyInPandasWithState) — the streaming twin of the batch
    heavy_hitters.hll_report: per-key state is the 64 max-rank
    registers (mergeable by element-wise MAX — order- and
    batching-insensitive, the same property that makes the KMV minima
    checkable), constant 64 BIGINTs against KMV's k hashes.

    The bucket/rank projection runs ENGINE-side before the stateful
    operator (the identical md5-bit CASE chain the batch operator and
    the oracle compile); the update folds maxima and emits the
    integer sketch summary (n_seen, v_empty, inv_power_sum) — the
    ESTIMATE applies engine-side in the query wrapper via
    hll_finalize, so no Python float touches the hashed row."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from firebase_etl_spark.operators.heavy_hitters import (
        HLL_M,
        HLL_REG_BITS,
        HLL_RHO_MAX,
        hll_rho_sql,
    )

    out_schema = "g string, n_seen long, v_empty long, inv_power_sum long"
    state_schema = "regs array<long>, n_seen long"

    def update(key_tuple, pdfs, state: GroupState):
        if state.exists:
            prior_regs, prior_seen = state.get
            regs = list(prior_regs)
            seen = int(prior_seen)
        else:
            regs, seen = [0] * HLL_M, 0
        added = 0
        for pdf in pdfs:
            for b, rho in zip(pdf["b"], pdf["rho"]):
                b, rho = int(b), int(rho)
                if rho > regs[b]:
                    regs[b] = rho
                added += 1
        if not added:
            return
        seen += added
        state.update((regs, seen))
        v_empty = sum(1 for m in regs if m == 0)
        inv_power_sum = sum(1 << (HLL_RHO_MAX - m) for m in regs)
        yield pd.DataFrame(
            {
                "g": [str(key_tuple[0])],
                "n_seen": [seen],
                "v_empty": [v_empty],
                "inv_power_sum": [inv_power_sum],
            }
        )

    hashed = (
        events.filter(
            F.col(key).isNotNull() & F.col("user_id").isNotNull()
        )
        .select(
            F.col(key).alias("g"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("hll|"), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
        .select(
            "g",
            F.expr(f"h DIV {1 << (52 - 6)}").alias("b"),
            F.expr(hll_rho_sql(f"h % {1 << HLL_REG_BITS}")).alias("rho"),
        )
    )
    return hashed.groupBy("g").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_srm_monitor(events: DataFrame):
    """Stateful streaming sample-ratio-mismatch gate — twin #14: per
    event type, cumulative arm counts of the id-parity experiment
    split. The FIRST live gate an experimentation platform runs: a
    drifting split ratio invalidates every downstream read-out
    (stream_ab_monitor's z included), and catching it mid-experiment
    is the whole point — batch SRM tells you after the budget is
    spent.

    State is two BIGINT counters + n_seen — pure functions of the
    input multiset, batching- and order-insensitive, so the final
    emission per key bit-equals a batch aggregate and the oracle
    replays it with one GROUP BY. The chi-square applies ENGINE-side
    on the final rows (zero Python arithmetic beyond += in the
    stateful path). NOTE: this twin gates EVENT traffic (the live
    flavor); the batch events_srm_check gates DISTINCT units — both
    stated, deliberately different denominators. Emits
    (g, n_seen, n0, n1) per key per batch."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = "g string, n_seen long, n0 long, n1 long"
    state_schema = "n0 long, n1 long, n_seen long"

    def update(key_tuple, pdfs, state: GroupState):
        if state.exists:
            n0, n1, seen = (int(x) for x in state.get)
        else:
            n0 = n1 = seen = 0
        added = 0
        for pdf in pdfs:
            for arm in pdf["arm"]:
                if int(arm) == 0:
                    n0 += 1
                else:
                    n1 += 1
                added += 1
        if not added:
            return
        seen += added
        state.update((n0, n1, seen))
        yield pd.DataFrame(
            {
                "g": [str(key_tuple[0])],
                "n_seen": [seen],
                "n0": [n0],
                "n1": [n1],
            }
        )

    src = events.filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        # pmod keeps negative ids in {0, 1} (Spark % yields -1 for
        # negative odd ids, which the n0/n1 split would miscount vs
        # the oracle's CASE user_id % 2 = 0 form)
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm"),
    )
    return src.groupBy("g").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_benford_monitor(events: DataFrame):
    """Stateful streaming Benford first-digit monitor — twin #15: per
    event type, cumulative counts of the leading decimal digit of the
    cent value. The LIVE flavor of events_benford_audit: a feed whose
    digit profile drifts off its baseline mid-stream (a broken
    upstream formatter, a synthetic-traffic injection) shows up here
    batches before a batch audit runs.

    State is nine BIGINT digit counters + n_seen — pure functions of
    the input multiset, batching- and order-insensitive, so the final
    emission per key bit-equals the batch aggregate and the oracle
    replays it with one GROUP BY. The digit is computed ENGINE-side
    (substring of the cent value's decimal string — the identical
    expression the batch operator and the oracle use); the chi-square
    / MAD read-outs apply engine-side on the final rows, so the
    stateful path is pure counter increments. Emits
    (g, n_seen, c1..c9) per key per batch."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = "g string, n_seen long, " + ", ".join(
        f"c{d} long" for d in range(1, 10)
    )
    state_schema = "n_seen long, " + ", ".join(
        f"c{d} long" for d in range(1, 10)
    )

    def update(key_tuple, pdfs, state: GroupState):
        if state.exists:
            vals = [int(x) for x in state.get]
        else:
            vals = [0] * 10
        added = 0
        for pdf in pdfs:
            for dig in pdf["dig"]:
                d = int(dig)
                if 1 <= d <= 9:
                    vals[d] += 1
                    added += 1
        if not added:
            return
        vals[0] += added
        state.update(tuple(vals))
        out = {"g": [str(key_tuple[0])], "n_seen": [vals[0]]}
        for d in range(1, 10):
            out[f"c{d}"] = [vals[d]]
        yield pd.DataFrame(out)

    src = (
        events.filter(
            F.col("event_type").isNotNull() & F.col("value").isNotNull()
        )
        .select(
            F.col("event_type").alias("g"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .filter(F.col("cents") > 0)
        .select(
            "g",
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int").alias("dig"),
        )
    )
    return src.groupBy("g").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
