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
    reference skips, firebase_service.py:174-178) become NULL structs and
    are filtered — same semantics, set-based.
    """
    # two-stage parse: (1) map<string,string> keeps each record as its raw
    # JSON text (corrupt non-object values survive as plain strings),
    # (2) per-record from_json with the declared schema. Corrupt entries
    # fail stage 2 -> NULL struct -> filtered, matching the reference's
    # skip-non-dict semantics.
    raw = spark.read.text(path, wholetext=True)  # one document, not JSON-lines
    parsed = raw.select(
        F.from_json(
            F.col("value"), T.MapType(T.StringType(), T.StringType())
        ).alias("root")
    )
    exploded = parsed.select(F.explode("root").alias("__key", "__raw"))
    records = exploded.withColumn(
        "__rec", F.from_json(F.col("__raw"), value_schema)
    ).filter(F.col("__rec").isNotNull() & F.col("__raw").startswith("{"))
    cols = [F.col(f"__rec.{f.name}").alias(f.name) for f in value_schema.fields]
    out = records.select(F.col("__key").alias("__map_key"), *cols)
    # key materialization: map key wins over any embedded id field
    return (
        out.withColumn(key_col, F.coalesce(F.col("__map_key"), F.col(key_col)))
        .withColumn("uid", F.coalesce(F.col("uid"), F.col("__map_key")))
        .drop("__map_key")
    )


def write_rtdb_export(rows: dict, path: str) -> None:
    """Test helper: write a map-of-objects export file like the reference's
    export_raw_data (driver-side, small fixtures only)."""
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(rows, fh, ensure_ascii=False)

