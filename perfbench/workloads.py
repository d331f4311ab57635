"""The benchmark's workloads: what one op does, and how its output is
checked.

Every op drives the package through its public functions only: the
declared queries of ``__spark_entry__.queries()`` (which include the
streaming drives), or the user ETL chain ``sources`` -> ``pipeline`` ->
``operators`` -> ``sinks``. Checks run outside the op timers.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import duckdb
import pyarrow.parquet as pq

from datagen import STAR_TABLES, UserInputs, write_star_schema, write_user_exports


def load_norm(root: str):
    """The driver simulator's value normaliser (exact 64-bit floats)."""
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(root, "tools", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class QueryWorkload:
    """A fixed list of declared queries run in a closed loop. One op builds
    a query's plan (``plans.construct``) and collects its rows
    (``plans.collect``); the rows are compared to the query's DuckDB
    oracle, order-insensitively."""

    def __init__(self, name: str, sf: float, queries, warm_passes: int, passes: int):
        self.name = name
        self.warm_passes = warm_passes
        self.passes = passes
        self.sf = sf
        self.queries = tuple(queries)
        self.data_dir = None
        self._oracle: dict[str, tuple] = {}
        self._con = None

    def generate(self, work: str, seed: int) -> dict:
        self.data_dir = os.path.join(work, "data")
        shutil.rmtree(self.data_dir, ignore_errors=True)
        return write_star_schema(self.data_dir, seed, self.sf)

    def bind(self, entry, norm) -> None:
        fns = entry.queries()
        self._fns = {q: fns[q] for q in self.queries}
        self._sql = {q: entry.oracle_sql()[q] for q in self.queries}
        self._norm = norm
        self._con = duckdb.connect()
        for t in STAR_TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )

    def run_op(self, spark, name: str, op_id: int, tracer):
        with tracer.span("plans.construct"):
            df = self._fns[name](spark, self.data_dir)
        with tracer.span("plans.collect"):
            rows = df.collect()
        return df.columns, rows

    def rows_delivered(self, result) -> int:
        return len(result[1])

    def _canon(self, cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(cols), sorted(tuple(self._norm(r[i]) for i in order) for r in rows)

    def check(self, name: str, result) -> bool:
        if name not in self._oracle:
            res = self._con.execute(self._sql[name])
            self._oracle[name] = self._canon([d[0] for d in res.description], res.fetchall())
        return self._canon(*result) == self._oracle[name]

    def layer_sample(self, spark, tracer, op, result, add) -> None:
        add("plans.construct_s", tracer.span_seconds(op, "plans.construct"))
        add("plans.collect_s", tracer.span_seconds(op, "plans.collect"))

    def after_op(self, name: str, result) -> None:
        pass

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


class UserEtlWorkload:
    """The reference's batch job on a seeded RTDB export. One op reads the
    export, transforms it with the Auth snapshot, resolves id conflicts
    against the load target, loads with quarantine, then upserts an
    incremental export into the loaded table."""

    name = "user_etl"

    def __init__(self, n_records: int, warm_records: int):
        self.n_records = n_records
        self.warm_records = warm_records
        self.queries = ("etl",)
        # two untimed runs of the whole job on a small export load and
        # compile what the job needs, so the timed job runs warm (the cold
        # start is in set-up): a cold job's time swings between runs about
        # twice as much, and so does the first job after a single warm-up
        self.warm_passes = 2
        self.passes = 1
        self.inputs: UserInputs | None = None
        self.warm_inputs: UserInputs | None = None

    def generate(self, work: str, seed: int) -> dict:
        self.sink_dir = os.path.join(work, "sink")
        in_dir = os.path.join(work, "input")
        shutil.rmtree(in_dir, ignore_errors=True)
        self.inputs = write_user_exports(in_dir, seed, self.n_records)
        warm_dir = os.path.join(work, "warm-input")
        shutil.rmtree(warm_dir, ignore_errors=True)
        self.warm_inputs = write_user_exports(warm_dir, seed + 1, self.warm_records)
        return {"records": self.inputs.records, "bytes": self.inputs.input_bytes}

    def bind(self, entry, norm) -> None:
        from firebase_etl_spark.operators.conflict import resolve_id_conflicts
        from firebase_etl_spark.pipeline import transform_users
        from firebase_etl_spark.sinks.loader import load_with_quarantine
        from firebase_etl_spark.sinks.merge import upsert_parquet
        from firebase_etl_spark.sources.firebase import read_rtdb_export

        self._read = read_rtdb_export
        self._transform = transform_users
        self._resolve = resolve_id_conflicts
        self._load = load_with_quarantine
        self._upsert = upsert_parquet

    def _paths(self, tag) -> dict:
        base = os.path.join(self.sink_dir, f"op{tag}")
        return {k: os.path.join(base, k) for k in ("users", "quarantine", "upserted")}

    def _sources(self, spark, i=None):
        i = i or self.inputs
        return (self._read(spark, i.export_path), spark.read.parquet(i.auth_path),
                spark.read.parquet(i.existing_path))

    def run_op(self, spark, name: str, op_id: int, tracer):
        """The whole job; the untimed warm-up (op id -1) runs it on the
        small export."""
        out = self._paths(op_id)
        i = self.warm_inputs if op_id < 0 else self.inputs
        with tracer.span("sources.rtdb_read"):
            raw, auth, existing = self._sources(spark, i)
        with tracer.span("pipeline.transform"):
            users = self._transform(raw, auth).users
        with tracer.span("operators.conflict"):
            resolved = self._resolve(users, existing)
        with tracer.span("sinks.load"):
            report = self._load(resolved, out["users"], out["quarantine"])
        with tracer.span("sinks.upsert"):
            updates = self._transform(self._read(spark, i.incremental_path), auth).users
            self._upsert(spark, out["users"], updates, "id", out_path=out["upserted"])
        return report, out

    def _run_prefixes(self, spark, tracer, out: dict) -> None:
        """Traced runs only, after the op: run each prefix of the job again,
        the lazy ones materialised to the ``noop`` sink and the writing ones
        to scratch paths, so every layer time is taken in the same warm
        state and a layer's self time is its prefix minus the previous one."""

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        with tracer.span("prefix.sources"):
            raw, auth, existing = self._sources(spark)
            noop(raw)

        def users():
            return self._transform(self._sources(spark)[0], auth).users

        with tracer.span("prefix.pipeline"):
            noop(users())
        with tracer.span("prefix.operators"):
            noop(self._resolve(users(), existing))
        with tracer.span("prefix.sinks"):
            self._load(self._resolve(users(), existing), out["users"], out["quarantine"])
        with tracer.span("prefix.upsert"):
            updates = self._transform(self._read(spark, self.inputs.incremental_path), auth).users
            self._upsert(spark, out["users"], updates, "id", out_path=out["upserted"])

    def rows_delivered(self, result) -> int:
        return self.inputs.records

    def check(self, name: str, result) -> bool:
        """Invariants: every non-corrupt record is loaded, quarantined or a
        dedup loser; loaded emails are unique and are exactly the resolved
        emails; loaded ids avoid the target's existing ids; the upsert
        yields old keys plus new keys, with the new values."""
        report, out = result
        i = self.inputs
        users = pq.read_table(out["users"], columns=["id", "email"]).to_pydict()
        quarantined = pq.read_table(out["quarantine"]).num_rows
        non_corrupt = i.records - i.corrupt
        losers = non_corrupt - len(i.expected_emails)
        ids, emails = users["id"], users["email"]
        ok = (
            report.loaded == len(ids)
            and report.quarantined == quarantined
            and len(ids) + quarantined + losers == non_corrupt
            and len(set(emails)) == len(emails)
            and set(emails) == i.expected_emails
            and len(set(ids)) == len(ids)
            and not set(ids) & i.existing_ids
        )
        if not ok:
            return False
        up = pq.read_table(out["upserted"], columns=["id", "email"]).to_pydict()
        merged = dict(zip(up["id"], up["email"]))
        old = dict(zip(ids, emails))
        want = {**old, **i.incremental}
        return len(merged) == len(up["id"]) and merged == want

    def layer_sample(self, spark, tracer, op, result, add) -> None:
        """Layer times from the warm prefix re-runs; job counts and bytes
        from the op itself. ``resolve_id_conflicts`` runs one eager job of
        its own, which is inside both the operators and the sinks prefix
        and so cancels out of ``sinks.load_s``."""
        scratch = self._paths(f"{op['op']}-prefix")
        with tracer.within(op):
            self._run_prefixes(spark, tracer, scratch)
        shutil.rmtree(os.path.dirname(scratch["users"]), ignore_errors=True)
        prefix = {k: tracer.span_seconds(op, f"prefix.{k}")
                  for k in ("sources", "pipeline", "operators", "sinks", "upsert")}
        add("sources.rtdb_read_s", prefix["sources"])
        add("sources.rtdb_read_tasks", tracer.counts_in(op, "prefix.sources")[2])
        add("pipeline.transform_s", prefix["pipeline"] - prefix["sources"])
        add("operators.conflict_s", prefix["operators"] - prefix["pipeline"])
        add("sinks.load_s", prefix["sinks"] - prefix["operators"])
        add("sinks.upsert_s", prefix["upsert"])
        add("sinks.load_jobs", tracer.counts_in(op, "sinks.load")[0])
        add("sinks.upsert_jobs", tracer.counts_in(op, "sinks.upsert")[0])
        written = _dir_bytes(os.path.dirname(result[1]["users"]))
        add("sinks.bytes_written", written)
        add("sinks.stored_bytes_per_input_byte", written / os.path.getsize(self.inputs.export_path))

    def after_op(self, name: str, result) -> None:
        shutil.rmtree(os.path.dirname(result[1]["users"]), ignore_errors=True)

    def close(self) -> None:
        pass


#: one analyst session over the declared queries: a TPC-H-shaped scan and
#: aggregate, a point lookup and a per-customer window (planning, scan and
#: collect bound), then a bounded stateful stream drive (many micro-batches
#: inside the query call). The two middle queries take about the same time,
#: so the median op is the middle of their pooled samples, not the edge
#: between a fast query and a slow one.
QUERY_MIX = (
    "q1_pricing_summary", "order_point_lookup",
    "latest_order_per_customer", "stream_dedup_events",
)


def make_workload(name: str, scale: float = 1.0):
    """``scale`` shrinks every input (the smoke test uses a tiny one)."""
    if name == "user_etl":
        return UserEtlWorkload(n_records=max(200, int(10_000 * scale)), warm_records=200)
    if name == "query_mix":
        # two untimed passes, as the third and later passes run at about
        # the same speed; then at least four timed passes, so p50 is the
        # median of eight samples
        return QueryWorkload(name, 0.1 * scale, QUERY_MIX, warm_passes=2, passes=4)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("user_etl", "query_mix")
