from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from firebase_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # the package default (16g) lets the JVM heap outgrow a 15 GB host
    # while the query fixture runs 16 queries at once; the suite's data
    # needs far less
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        # keep every tiny test stage at the session's full width: the
        # prod default floor (cores/4 = 2 here) serializes the suite's
        # CPU-heavy Python stages (dsir partition-invariance ran 10x
        # longer at floor 2); tests assert semantics, not partition
        # sizing, and the prod conf is exercised by the virgin-session
        # contract test
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.minPartitionNum": "8"
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def driver_query_runs(spark):
    """ONE construction+collect pass over every declared query at the
    test SF, shared by the oracle-match and scale-guard sweeps (each
    used to pay its own full pass — the two slowest fixtures in the
    suite). Queries, bounded stream drives included, run CONCURRENTLY
    from a thread pool (Spark interleaves jobs from submitter threads —
    the same shape bench.py's warmup uses).

    Sharing one session across threads holds because of a rule every
    declared query keeps: none writes a session conf, except the sqlstore
    queries' ``spark.sql.python.filterPushdown.enabled`` (set to the value
    ``get_spark`` already gives, and never restored), and none registers a
    temp view under a fixed name (pass frames to ``spark.sql`` as
    arguments instead). ``test_shared_session_confs_stay_fixed`` and
    ``tools/driver_sim.py`` check the conf half.

    Returns {name: (scale_violations, spark_columns, rows, error)}."""
    import sys as _sys
    from concurrent.futures import ThreadPoolExecutor

    _sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entrymod
    from firebase_etl_spark.plans.guards import scale_violations

    qs = entrymod.queries()

    def one(name):
        try:
            df = qs[name](spark, SF_DIR)
            violations = scale_violations(df)
            rows = [tuple(r) for r in df.collect()]
            return (violations, df.columns, rows, None)
        except Exception as exc:
            return (None, None, None, exc)

    names = sorted(qs)
    with ThreadPoolExecutor(max_workers=16) as pool:
        return dict(zip(names, pool.map(one, names)))


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` -> (fn(), number of Spark jobs fn started),
    counted under a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-started-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs_started")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            # job-start events reach the status store through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
