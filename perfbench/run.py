"""Benchmark runner for the firebase_etl_spark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, starts a SparkSession through
the package's own ``get_spark`` on ``local[<cores>]``, warms it up, then
runs the workload's ops in a closed loop (one client) in whole passes, at
least the workload's pass count and until ``--seconds`` of op time are
measured. Each op's output is checked outside the timers. The last stdout
line is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See README.md beside this file.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "3g"
SETUP_REPEATS = 3
SMOKE_SCALE = 0.01


def tail_latency(samples: list[tuple[str, float]], beyond: int = 10) -> tuple[float, str]:
    """The highest percentile with at least ``beyond`` samples above it.
    With fewer than ``10 * beyond`` samples that percentile would sit below
    p90, near the median, so the slowest op's median over the run stands
    in. Returns the value and what it is."""
    xs = sorted(d for _, d in samples)
    if len(xs) < 10 * beyond:
        medians = {n: statistics.median(d for m, d in samples if m == n) for n, _ in samples}
        slowest = max(medians, key=medians.get)
        return medians[slowest], f"median of the slowest op, {slowest}"
    k = len(xs) - beyond - 1
    return xs[k], f"p{100.0 * (k + 1) / len(xs):.1f}"


def _environment(work: str) -> None:
    """Session settings: all cores, a bounded driver heap, and every
    scratch file (shuffle, checkpoints, temp files, warehouse) under
    ``work`` inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()


def _redirect_stream_checkpoints() -> None:
    """The package's bounded stream driver puts checkpoints on /dev/shm
    when that exists and on ``tempfile.gettempdir()`` otherwise, and has no
    setting for it. The benchmark may write only inside the checkout, so
    that module alone sees /dev/shm as missing and its checkpoints land in
    TMPDIR, the run's work dir."""
    import types

    from firebase_etl_spark.streaming import events

    shim = types.ModuleType("os")
    shim.__dict__.update(os.__dict__)
    shim.path = types.ModuleType("os.path")
    shim.path.__dict__.update(os.path.__dict__)
    shim.path.isdir = lambda p: p != "/dev/shm" and os.path.isdir(p)
    events.os = shim


def _drain(spark) -> None:
    """Between-op state drain, outside the timers and identical on every
    run: drop cached data and the temp views ops leave, collect Python
    garbage. The JVM heap is left to its own collector."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    gc.collect()


def _stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until the JVM and every Python
    worker it started have exited, so no process outlives the run."""
    from pyspark import SparkContext
    from tracing import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def alive(pid):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + 30
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    from workloads import load_norm, make_workload

    t_run = time.perf_counter()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    wl = make_workload(args.workload, SMOKE_SCALE if args.smoke else 1.0)

    gen_times, inputs = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        inputs = wl.generate(work, args.seed)
        gen_times.append(time.perf_counter() - t0)
    gen_s = statistics.median(gen_times)

    t0 = time.perf_counter()
    import __spark_entry__ as entry
    from firebase_etl_spark.session import get_spark
    from tracing import RssSampler, Tracer

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    rss = RssSampler()
    tracer = Tracer(spark, enabled=bool(args.trace))
    check_s = 0.0
    try:
        _redirect_stream_checkpoints()
        wl.bind(entry, load_norm(ROOT))
        if args.trace:  # reading /proc/<pid>/smaps_rollup costs the JVM time
            rss.start()

        # warm-up, counted in set-up: the workload's untimed passes
        # (query_mix: two, as in a long analyst session; user_etl: one job on
        # a small export), so every op is timed warm and the cold start,
        # whose time swings most between runs, shows in setup_s alone. The op order is fixed: the first op of a pass pays
        # what is left of the warm-up, so a seed-dependent order would move
        # p50.
        t0 = time.perf_counter()
        order = list(wl.queries[:1] if args.smoke else wl.queries)
        untraced = Tracer(spark, enabled=False)
        warm_pass_s = []
        for _ in range(0 if args.smoke else wl.warm_passes):
            t1 = time.perf_counter()
            for name in order:
                wl.after_op(name, wl.run_op(spark, name, -1, untraced))
                _drain(spark)
            warm_pass_s.append(time.perf_counter() - t1)
        warm_s = time.perf_counter() - t0
        setup_s = gen_s + session_s + warm_s
        sys.stderr.write(f"setup: generate {gen_s:.3f}s (median of {SETUP_REPEATS}) "
                         f"session {session_s:.3f}s warm-up {warm_s:.3f}s "
                         f"({' '.join(f'{s:.2f}s' for s in warm_pass_s)})\n")

        samples: list[tuple[str, float]] = []
        rows = failed = 0
        layer: dict[str, list[float]] = {}
        rss.reset()
        passes, pass_s = 0, []
        while True:  # whole passes, so every run times the same set of ops
            for name in order:
                op_id = len(samples)
                _drain(spark)
                tracer.begin_op(op_id, name)
                t0 = time.perf_counter()
                try:
                    result = wl.run_op(spark, name, op_id, tracer)
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                    result = None
                    sys.stderr.write(f"op {name} failed: {type(exc).__name__}: {exc}\n")
                dt = time.perf_counter() - t0
                op = tracer.end_op(dt)
                samples.append((name, dt))
                t0 = time.perf_counter()
                if result is None or not wl.check(name, result):
                    failed += 1
                    sys.stderr.write(f"op {name}: output check failed\n")
                check_s += time.perf_counter() - t0
                if result is not None:
                    rows += wl.rows_delivered(result)
                    if op is not None:
                        _layer_sample(layer, wl, spark, tracer, op, result)
                    wl.after_op(name, result)
            passes += 1
            pass_s.append(sum(d for _, d in samples[-len(order):]))
            if args.smoke or (passes >= wl.passes and sum(d for _, d in samples) >= args.seconds):
                break
        peak = rss.peak
        sys.stderr.write(f"timed passes: {' '.join(f'{s:.2f}s' for s in pass_s)}\n")
    finally:
        t0 = time.perf_counter()
        rss.stop()
        tracer.close()
        wl.close()
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(f"phases: run {time.perf_counter() - t_run:.1f}s, "
                         f"generate x{SETUP_REPEATS} {sum(gen_times):.1f}s, "
                         f"checks {check_s:.1f}s, teardown {time.perf_counter() - t0:.1f}s\n")

    durations = [d for _, d in samples]
    total = sum(durations)
    tail, tail_kind = tail_latency(samples)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(durations), "s"),
        "op_tail_s": (tail, "s"),
        "ops_per_s": (len(durations) / total, "1/s"),
        "rows_per_s": (rows / total, "rows/s"),
    }
    attempted = len(samples)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "ops": attempted,
        "op_tail": tail_kind, "error_rate": failed / attempted,
        "peak_rss_mb": round(peak / 2**20, 1) if args.trace else None,
        "input_records": inputs["records"], "input_bytes": inputs["bytes"],
        "op_s": {n: round(statistics.median(d for m, d in samples if m == n), 4) for n in order},
        "end_to_end": {k: f"{v:.6g} {u}" for k, (v, u) in e2e.items()},
    }))
    if args.trace:
        metrics = _layer_metrics(layer, tracer, session_s, durations, failed / attempted, peak)
        tracer.write(os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _layer_sample(layer, wl, spark, tracer, op, result) -> None:
    """Per-op layer numbers for the traced run (outside the op timer)."""
    def add(key, value):
        layer.setdefault(key, []).append(value)

    ex = op["executor"]
    add("executor.busy_share", ex["task_s"] / (op["wall_s"] * max(ex["cores"], 1)))
    add("executor.shuffle_bytes_per_op", ex["shuffle_bytes"])
    add("executor.input_bytes_per_op", ex["input_bytes"])
    add("executor.gc_s_per_op", ex["gc_s"])
    add("executor.failed_tasks", ex["failed_tasks"])
    add("plans.jobs_per_op", op["jobs"])
    add("plans.stages_per_op", op["stages"])
    add("plans.tasks_per_op", op["tasks"])
    for d in op["drives"]:
        add("streaming.batches_per_drive", d["batches"])
        add("streaming.batch_s", d["batch_s"])
        add("streaming.state_rows", d["state_rows"])
    wl.layer_sample(spark, tracer, op, result, add)
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.rtdb_read_s": "s", "sources.rtdb_read_tasks": "count",
    "pipeline.transform_s": "s", "operators.conflict_s": "s",
    "sinks.load_s": "s", "sinks.load_jobs": "count", "sinks.upsert_jobs": "count",
    "sinks.upsert_s": "s", "sinks.bytes_written": "B",
    "sinks.stored_bytes_per_input_byte": "ratio",
    "plans.construct_s": "s", "plans.collect_s": "s", "plans.jobs_per_op": "count",
    "plans.stages_per_op": "count", "plans.tasks_per_op": "count",
    "streaming.batches_per_drive": "count", "streaming.batch_s": "s",
    "streaming.state_rows": "count",
    "executor.busy_share": "ratio", "executor.shuffle_bytes_per_op": "B",
    "executor.input_bytes_per_op": "B", "executor.gc_s_per_op": "s",
    "executor.failed_tasks": "count",
    "memory.peak_rss_mb": "MB",
    "check.error_rate": "ratio",
    "trace.op_p50_s": "s", "trace.overhead_s_per_op": "s",
}


def _layer_metrics(layer, tracer, session_s, durations, error_rate, peak) -> dict:
    """Medians over ops; a layer the workload never enters reads 0."""
    vals = {k: statistics.median(v) for k, v in layer.items()}
    vals["executor.failed_tasks"] = sum(layer.get("executor.failed_tasks", [0]))
    vals.update({
        "session.start_s": session_s,
        "memory.peak_rss_mb": peak / 2**20,
        "check.error_rate": error_rate,
        "trace.op_p50_s": statistics.median(durations),
        "trace.overhead_s_per_op": tracer.overhead_s / len(durations),
    })
    return {k: {"value": vals.get(k, 0), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs and a single op (smoke test)")
    args = p.parse_args(argv)
    missing = [n for n in ("__spark_entry__.py", "firebase_etl_spark", "tools/driver_sim.py")
               if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        sys.stderr.write(f"not a checkout of the engine: missing {', '.join(missing)}\n")
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
