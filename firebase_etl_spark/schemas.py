"""Explicit StructTypes for every table the engine touches.

Canonical User schema derives from the reference's Pydantic model
(reference user_transformer.py:14-32) and Postgres DDL
(reference postgres_loader.py:650-671); the raw schema is the messy
schema-on-read shape produced by the reference extractors
(reference firebase_service.py:110-218). See SURVEY.md §1.2.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# User entity
# ---------------------------------------------------------------------------

#: Raw extract stage: everything nullable string (schema-on-read; the messy
#: input domain of the parsers — FIXTURES.md §1). Alternate spellings are
#: real columns so the coalesce layer (F7) can see them.
RAW_USER_SCHEMA = T.StructType(
    [
        T.StructField(name, T.StringType(), True)
        for name in [
            "id",
            "uid",
            "email",
            "emailVerified",
            "name",
            "displayName",
            "password",
            "provider",
            "profilePic",
            "profile_pic",
            "phoneNumber",
            "phone_number",
            "phoneVerified",
            "city",
            "birthDate",
            "birth_date",
            "photo",
            "photoURL",
            "createdAt",
            "created_at",
            "updatedAt",
            "updated_at",
            "status",
            "interests",
            "lastConnexion",
            "last_connexion",
            "following",
        ]
    ]
)

#: Canonical typed User record (the declared post-transform schema).
USER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("email", T.StringType(), False),
        T.StructField("emailVerified", T.BooleanType(), True),
        T.StructField("password", T.StringType(), True),
        T.StructField("uid", T.StringType(), True),
        T.StructField("provider", T.StringType(), True),
        T.StructField("profilePic", T.StringType(), True),
        T.StructField("phoneNumber", T.StringType(), True),
        T.StructField("phoneVerified", T.BooleanType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("birthdate", T.TimestampType(), True),
        T.StructField("photo", T.StringType(), True),
        T.StructField("createdAt", T.TimestampType(), False),
        T.StructField("updatedAt", T.TimestampType(), False),
        T.StructField("status", T.StringType(), True),
        T.StructField("interests", T.ArrayType(T.StringType()), True),
        T.StructField("lastConnexion", T.TimestampType(), True),
    ]
)

#: Firebase Auth snapshot (join side for provider/email resolution J1).
AUTH_USER_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType(), False),
        T.StructField("email", T.StringType(), True),
        T.StructField("email_verified", T.BooleanType(), True),
        T.StructField("provider_ids", T.ArrayType(T.StringType()), True),
    ]
)

#: Valid values of the status enum (reference user_transformer.py:9-12).
USER_STATUSES = ("ACTIVE", "INACTIVE", "BANNED")

# ---------------------------------------------------------------------------
# Synthetic star schema (driver-provided /root/testdata — TESTDATA.md)
# ---------------------------------------------------------------------------

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: ``events`` as read from parquet. ``ts`` is read as a long: the files
#: may store TIMESTAMP(NANOS), which Spark has no type for, or
#: TIMESTAMP(MICROS); the long read returns the stored unit as is and
#: ``sources.tables.events_ts_to_timestamp`` converts it.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)
