"""Driver-contract simulation: run every __spark_entry__.queries() entry vs
its oracle_sql() twin on DuckDB, the way the round driver does.

Uses a VIRGIN SparkSession (no firebase_etl_spark.session confs) because the
driver builds its own — round 1's red rows came from assuming get_spark().

Usage: python tools/driver_sim.py [sf_dir] [query ...]
Exit code 1 if any oracle-backed query mismatches, or if entry() or any
query leaves a changed value in one of ``FIXED_CONFS``.
"""

from __future__ import annotations

import struct
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as m  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

#: queries allowed the legacy 6dp float comparison instead of the strict
#: bit-exact one. Empty by design: the r6 driver gate proved that ANY
#: float looser than the driver's own hash lets environment-dependent
#: reds (the documents_dsir_weights class) pass locally. Add a name here
#: ONLY with a comment saying which column is intentionally
#: engine-specific and why the driver gate still passes it.
LOOSE_FLOAT_QUERIES: set[str] = set()


#: the only DuckDB types an oracle's FINAL output may carry. HUGEINT
#: (an uncast sum()) hashes as decimal128 on the driver while printing
#: identically to BIGINT locally — the r4-r7 documents_dsir_weights /
#: user_conversion_survival red class. Intermediates may be anything;
#: this lints DESCRIBE of the full statement, i.e. the final SELECT.
ALLOWED_ORACLE_TYPES = {
    "BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE",
    "TIMESTAMP",
}

#: Spark dtype -> DuckDB types that hash identically on the driver.
#: int32 vs int64 is NOT a hash-relevant distinction — rows pairing a
#: Spark int rank with a DuckDB BIGINT row_number have years of green
#: driver evidence (embedding_topk_*, r4-r7) — whereas HUGEINT/decimal
#: demonstrably is (the dsir/survival reds); so the integer family
#: cross-matches and the forbidden list above stays strict.
_INTS = {"INTEGER", "BIGINT"}
SPARK_TO_DUCK = {
    "bigint": _INTS,
    "int": _INTS,
    "double": {"DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP"},
    "timestamp_ntz": {"TIMESTAMP"},
}


def lint_oracle_types(con, sql: str, spark_dtypes) -> list[str]:
    """Type-lint one oracle's output vs the allowlist and the Spark
    schema. Returns a list of problem strings (empty = clean)."""
    duck = {
        r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()
    }
    probs = []
    for cn, ct in duck.items():
        if ct not in ALLOWED_ORACLE_TYPES:
            probs.append(f"oracle col {cn!r} has forbidden type {ct}")
    for cn, st in spark_dtypes:
        want = SPARK_TO_DUCK.get(st)
        got = duck.get(cn)
        if want is not None and got is not None and got not in want:
            probs.append(
                f"type-parity: col {cn!r} spark={st} duckdb={got}"
            )
    return probs


def norm(v, loose: bool = False):
    if isinstance(v, float):
        # STRICT: the exact 64 bits, like the driver's value hash — a
        # 6dp round here is what let three rounds of local green
        # over-predict the driver on documents_dsir_weights
        if loose:
            return str(round(v, 6))
        return struct.pack("<d", v).hex()
    if v is None:
        return "\x00NULL"
    return str(v)


#: session confs the package once wrote at runtime (graph loops flipped
#: the shuffle partitions, the events loader turned on nanosAsLong); no
#: query may change either on the caller's session
FIXED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def check_query(spark, con, oracles, name, fn) -> bool:
    """Run one declared query against its oracle and print its line;
    True when it matches (or is rows-only)."""
    t0 = time.time()
    try:
        sdf = fn(spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
    except Exception as exc:  # noqa: BLE001
        print(f"{name}: SPARK ERROR {type(exc).__name__}: {exc}")
        return False
    sql = oracles.get(name)
    if sql is None:
        print(f"{name}: rows-only {len(srows)} ({time.time() - t0:.1f}s)")
        return True
    try:
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as exc:  # noqa: BLE001
        print(f"{name}: ORACLE ERROR {type(exc).__name__}: {exc}")
        return False
    try:
        lint = lint_oracle_types(con, sql, sdf.dtypes)
    except Exception as exc:  # noqa: BLE001
        lint = [f"DESCRIBE failed: {type(exc).__name__}: {exc}"]
    if lint:
        print(f"{name}: TYPE-LINT FAIL")
        for p in lint:
            print(f"  {p}")
        return False
    o_s = sorted(range(len(scols)), key=lambda i: scols[i])
    o_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
    cols_ok = sorted(scols) == sorted(dcols)
    rows_ok = len(srows) == len(drows)
    loose = name in LOOSE_FLOAT_QUERIES
    s_set = sorted(tuple(norm(r[i], loose) for i in o_s) for r in srows)
    d_set = sorted(tuple(norm(r[i], loose) for i in o_d) for r in drows)
    match = cols_ok and rows_ok and s_set == d_set
    status = "OK" if match else "MISMATCH"
    print(f"{name}: rows={len(srows)} {status} ({time.time() - t0:.1f}s)")
    if not match:
        if not cols_ok:
            print(f"  cols spark={sorted(scols)} oracle={sorted(dcols)}")
        elif not rows_ok:
            print(f"  rowcount spark={len(srows)} oracle={len(drows)}")
        else:
            diff_s = [r for r in s_set if r not in d_set][:3]
            diff_d = [r for r in d_set if r not in s_set][:3]
            print(f"  spark-only sample: {diff_s}")
            print(f"  oracle-only sample: {diff_d}")
    return match


def main() -> int:
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    confs = {k: spark.conf.get(k) for k in FIXED_CONFS}
    bad = []

    def conf_check(name: str) -> None:
        now = {k: spark.conf.get(k) for k in FIXED_CONFS}
        changed = [
            f"{k} {confs[k]} -> {now[k]}" for k in FIXED_CONFS if now[k] != confs[k]
        ]
        if changed:
            if name not in bad:
                bad.append(name)
            print(f"{name}: CONF CHANGED {'; '.join(changed)}")
            confs.update(now)

    if not ONLY:
        print("entry rows:", len(m.entry(spark).collect()))
        conf_check("entry")

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    oracles = m.oracle_sql()
    for name, fn in m.queries().items():
        if ONLY and name not in ONLY:
            continue
        if not check_query(spark, con, oracles, name, fn):
            bad.append(name)
        conf_check(name)
    spark.stop()
    print(f"\n{'FAIL: ' + ', '.join(bad) if bad else 'ALL OK'}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
