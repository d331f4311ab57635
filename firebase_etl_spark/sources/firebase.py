"""Firebase Realtime Database extraction, Spark-first.

The reference fetches the whole ``/Users`` node over the Admin SDK into a
pandas DataFrame (reference firebase_service.py:110-218) with a per-row Auth
RPC (the N+1 anti-pattern, firebase_service.py:80). The Spark-native design:

1. **Export, then read**: RTDB data arrives as a JSON export file (the
   shape ``{uid: {field: value, ...}, ...}``) — produced by the reference's
   own ``export_raw_data`` (firebase_service.py:311-349), a REST ``.json``
   dump, or a GCS backup. Reading a file is replayable; per-row RPCs are
   not.
2. **Map explode**: the map-of-objects becomes rows via a MapType read +
   ``explode`` — key materializes as ``id``/``uid`` (P2 derivation,
   reference firebase_service.py:151-152).
3. **Auth snapshot join**: the Auth user list is exported once and joined
   broadcast (see functions/identity.resolve_provider_and_email) — the N+1
   disappears.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from firebase_etl_spark.schemas import RAW_USER_SCHEMA


def read_rtdb_export(
    spark: SparkSession,
    path: str,
    value_schema: T.StructType = RAW_USER_SCHEMA,
    key_col: str = "id",
) -> DataFrame:
    """Read an RTDB node export (one JSON object keyed by uid) into rows.

    The export is a single JSON document ``{key: record}``; we read it as
    one MapType value and explode. Non-dict values (corrupt entries the
    reference skips, firebase_service.py:174-178) are filtered before the
    per-record parse — same semantics, set-based.

    The map key becomes ``key_col`` (replacing an embedded value) and fills
    ``uid`` where the record has none; either column is appended when
    ``value_schema`` does not declare it.
    """
    # two-stage parse: (1) map<string,string> keeps each record as its raw
    # JSON text (corrupt non-object values survive as plain strings),
    # (2) per-record from_json with the declared schema. Only object texts
    # (leading "{") reach stage 2, matching the reference's skip-non-dict
    # semantics; filtering on the raw text rather than the parsed struct
    # keeps the optimizer from running the record parse in the Filter too.
    raw = spark.read.text(path, wholetext=True)  # one document, not JSON-lines
    # explode the parse directly: over a projected attribute the optimizer
    # infers a non-empty filter on it and pushes that below the projection,
    # parsing the whole document three times
    root = F.from_json(F.col("value"), T.MapType(T.StringType(), T.StringType()))
    exploded = raw.select(F.explode(root).alias("__key", "__raw"))
    records = exploded.filter(F.col("__raw").startswith("{")).select(
        F.col("__key").alias("__map_key"),
        F.from_json(F.col("__raw"), value_schema).alias("__rec"),
    )
    out = records.select("__map_key", "__rec.*")
    # key materialization: the map key (never NULL) replaces any embedded
    # id and fills uid where the record has none
    key = F.col("__map_key")
    uid = F.coalesce(F.col("uid"), key) if "uid" in value_schema.fieldNames() else key
    return (
        out.withColumn(key_col, key).withColumn("uid", uid).drop("__map_key")
    )


def write_rtdb_export(rows: dict, path: str) -> None:
    """Test helper: write a map-of-objects export file like the reference's
    export_raw_data (driver-side, small fixtures only)."""
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(rows, fh, ensure_ascii=False)

