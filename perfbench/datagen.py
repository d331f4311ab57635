"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

- ``write_star_schema``: the three tables the benchmark's declared
  queries read (``orders``, ``lineitem``, ``events``), one parquet
  file each, with the row counts per scale factor, column types (timestamps
  as parquet TIMESTAMP(MICROS), not adjusted to UTC) and value domains of
  the fixed test data the queries were written against.
- ``write_user_exports``: the user ETL job's inputs — a messy Realtime
  Database export (duplicate emails, corrupt non-object entries, alternate
  field spellings, mixed date formats, null tokens), an Auth snapshot, the
  load target's existing ids and an incremental export of changed and new
  keys. Single-process pure Python. It also returns what a correct job must
  produce from them, derived from the reference's own rules, for the
  output check.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ("orders", "lineitem", "events")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # Unrounded on purpose: the queries round their aggregates, and sums of
    # 2-decimal values land exactly on a rounding midpoint often enough that
    # summation order (Spark vs the DuckDB oracle) would flip the last digit.
    return rng.uniform(lo, hi, n)


def _star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))

    t: dict[str, pa.Table] = {}
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, max(200, int(200_000 * sf)), n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)), n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _US_PER_DAY),
    })
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(150, n_cust // 10), n_ev).astype(np.int64),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.minimum(rng.exponential(40.0, n_ev), 490.0) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict:
    """Write every star-schema table as ``<out_dir>/<name>.parquet``; return
    row and byte totals of what was written."""
    os.makedirs(out_dir, exist_ok=True)
    rows = size = 0
    for name, table in _star_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows += table.num_rows
        size += os.path.getsize(path)
    return {"records": rows, "bytes": size}


# ---------------------------------------------------------------------------
# user ETL inputs
# ---------------------------------------------------------------------------

_NULL_TOKENS = ("", "nan", "null", "none", "nat")
_NULL_SPELLINGS = ("", "nan", "null", "None", "  ", "NaT")
_STATUSES = (
    "ACTIVE", "actif", "ENABLED", "Inactive", "INACTIF", "disabled",
    "BANNED", "banni", "blocked", "garbage", None,
)
_BOOLS = ("true", "false", "True", "1", "0", None)
_ALTERNATES = (
    ("profilePic", "profile_pic"), ("phoneNumber", "phone_number"),
    ("birthDate", "birth_date"), ("photo", "photoURL"),
    ("createdAt", "created_at"), ("updatedAt", "updated_at"),
    ("lastConnexion", "last_connexion"),
)


def _clean(value):
    """The reference's string cleaning: trim spaces; null tokens -> None."""
    if value is None:
        return None
    v = value.strip(" ")
    return None if v.lower() in _NULL_TOKENS else v


def _uid(rnd: random.Random) -> str:
    return "".join(rnd.choices("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789", k=20))


def _datetime(rnd: random.Random):
    epoch = rnd.randint(946_684_800, 1_700_000_000)
    iso = f"{2000 + epoch % 23:04d}-{1 + epoch % 12:02d}-{1 + epoch % 28:02d}"
    hms = f"{epoch % 24:02d}:{epoch % 60:02d}:{(epoch // 7) % 60:02d}"
    return rnd.choice((
        iso, f"{iso} {hms}", f"{iso}T{hms}", f"{iso}T{hms}.123456", f"{iso}T{hms}Z",
        str(epoch), str(epoch * 1000), "NaT", "nan", None,
    ))


def _record(rnd: random.Random, key: str, email) -> dict:
    rec = {
        "email": email,
        "emailVerified": rnd.choice(_BOOLS),
        "password": rnd.choice(("opaque-hash", None)),
        "phoneVerified": rnd.choice(_BOOLS),
        "city": rnd.choice(("Paris", "Lyon", "Tunis", "nan", "", None)),
        "status": rnd.choice(_STATUSES),
        "interests": rnd.choice(("music, sports", "art", "", "nan", None)),
        "following": rnd.choice(('{"%s": true}' % key[:8], None)),
    }
    if rnd.random() < 0.5:
        rec["uid"] = key
    if rnd.random() < 0.3:
        rec["id"] = key
    if rnd.random() < 0.8:
        rec["name"] = f"user {key[:6]}"
    else:
        rec["displayName"] = f"display {key[:6]}"
    for canonical, alternate in _ALTERNATES:
        field = alternate if rnd.random() < 0.1 else canonical
        if canonical in ("birthDate", "createdAt", "updatedAt", "lastConnexion"):
            rec[field] = _datetime(rnd)
        else:
            rec[field] = rnd.choice((f"https://img.example/{key[:8]}", "+21600000000", None))
    return {k: v for k, v in rec.items() if v is not None or rnd.random() < 0.5}


@dataclass
class UserInputs:
    export_path: str
    incremental_path: str
    auth_path: str
    existing_path: str
    records: int            # entries in the main export, corrupt ones included
    corrupt: int
    input_bytes: int        # all four input files
    expected_emails: set    # loaded emails: one survivor per resolved email
    existing_ids: set
    incremental: dict       # key -> email of the incremental export


def write_user_exports(out_dir: str, seed: int, n_records: int) -> UserInputs:
    """Write the user ETL inputs under ``out_dir`` and return what a
    correct run must load from them."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    export: dict = {}
    emails: list[str] = []
    for i in range(n_records):
        key = _uid(rnd)
        r = rnd.random()
        if r < 0.01:
            export[key] = rnd.choice(("corrupt-entry", 12345, [1, 2], True))
            continue
        if r < 0.31 and emails:
            email = rnd.choice(emails)
            if rnd.random() < 0.2:
                email = f"  {email} "
        elif r < 0.41:
            email = rnd.choice(_NULL_SPELLINGS + (None,))
        else:
            email = f"user{i}.{key[:5].lower()}@example.com"
            emails.append(email)
        export[key] = _record(rnd, key, email)

    keys = [k for k, v in export.items() if isinstance(v, dict)]
    auth = []
    for key in keys:
        if rnd.random() < 0.6:
            auth.append({
                "uid": key,
                "email": rnd.choice(emails) if rnd.random() < 0.1 else (
                    f"auth.{key[:8].lower()}@example.com" if rnd.random() < 0.7 else None
                ),
                "email_verified": rnd.random() < 0.5,
                "provider_ids": rnd.sample(["password", "google.com", "facebook.com"], rnd.randint(0, 2)),
            })
    auth_email = {a["uid"]: _clean(a["email"]) for a in auth}

    # reference resolution order: database email, then Auth email, then the
    # google placeholder; the job keeps one row per resolved email
    expected = set()
    for key in keys:
        email = _clean(export[key].get("email")) or auth_email.get(key)
        expected.add(email or f"google_user_{key}@placeholder.com")

    colliding = rnd.sample(keys, max(1, len(keys) // 50))
    existing_ids = set(colliding) | {_uid(rnd) for _ in range(len(keys) // 10)}

    incremental = {}
    for j, key in enumerate(rnd.sample(keys, max(1, len(keys) // 20))):
        incremental[key] = f"changed{j}@update.example.com"
    for j in range(max(1, len(keys) // 20)):
        incremental[_uid(rnd)] = f"new{j}@update.example.com"
    incr_export = {
        k: {"uid": k, "email": e, "name": f"updated {k[:6]}", "status": "ACTIVE",
            "createdAt": "2024-02-01T10:00:00Z"}
        for k, e in incremental.items()
    }

    paths = {n: os.path.join(out_dir, n) for n in (
        "export.json", "incremental.json", "auth.parquet", "existing.parquet")}
    for name, doc in (("export.json", export), ("incremental.json", incr_export)):
        with open(paths[name], "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
    pq.write_table(pa.table({
        "uid": [a["uid"] for a in auth],
        "email": [a["email"] for a in auth],
        "email_verified": [a["email_verified"] for a in auth],
        "provider_ids": pa.array([a["provider_ids"] for a in auth], pa.list_(pa.string())),
    }), paths["auth.parquet"])
    ids = sorted(existing_ids)
    pq.write_table(pa.table({"id": ids, "email": [f"{i}@target.example.com" for i in ids]}),
                   paths["existing.parquet"])
    return UserInputs(
        export_path=paths["export.json"],
        incremental_path=paths["incremental.json"],
        auth_path=paths["auth.parquet"],
        existing_path=paths["existing.parquet"],
        records=n_records,
        corrupt=n_records - len(keys),
        input_bytes=sum(os.path.getsize(p) for p in paths.values()),
        expected_emails=expected,
        existing_ids=existing_ids,
        incremental=incremental,
    )
