"""Unit tests for the scalar transform library (SURVEY §2.8)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from firebase_etl_spark.functions.cleaning import clean_string, mask_email, to_bool
from firebase_etl_spark.functions.arrays import parse_interests, pg_array_literal
from firebase_etl_spark.functions.status import normalize_status
from firebase_etl_spark.functions.timestamps import parse_datetime, parse_datetime_or_now
from firebase_etl_spark.functions.identity import placeholder_email, uuid20


def _apply(spark, values, fn, in_type="string"):
    df = spark.createDataFrame([(v,) for v in values], f"v {in_type}")
    return [r[0] for r in df.select(fn(F.col("v")).alias("out")).collect()]


def test_clean_string(spark):
    out = _apply(
        spark,
        ["  hi  ", "", "nan", "NULL", "None", "NaT", "  ", None, "ok"],
        clean_string,
    )
    assert out == ["hi", None, None, None, None, None, None, None, "ok"]


def test_to_bool(spark):
    out = _apply(spark, ["true", "False", "1", "0", "garbage", None], to_bool)
    assert out == [True, False, True, False, False, False]


def test_mask_email(spark):
    out = _apply(spark, ["alice@example.com", None], mask_email)
    assert out == ["ali***", None]


def test_parse_datetime_formats(spark):
    cases = {
        "1990-05-01": dt.datetime(1990, 5, 1),
        "1990-05-01 10:00:00": dt.datetime(1990, 5, 1, 10),
        "1990-05-01T10:00:00": dt.datetime(1990, 5, 1, 10),
        "1990-05-01T10:00:00.123456": dt.datetime(1990, 5, 1, 10, 0, 0, 123456),
        "1990-05-01T10:00:00Z": dt.datetime(1990, 5, 1, 10),
        "NaT": None,
        "nan": None,
        "garbage": None,
        None: None,
    }
    out = _apply(spark, list(cases), parse_datetime)
    assert out == list(cases.values())

    # edge spellings, compared as UTC epoch micros (year 99999 is out of
    # Python's datetime range)
    def micros(*a):
        return (dt.datetime(*a) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)

    edge = {
        "1990-05-01t10:00:00": micros(1990, 5, 1, 10),
        "1990-05-01T10:00:00z": micros(1990, 5, 1, 10),
        "1990-05-01t10:00:00z": micros(1990, 5, 1, 10),
        "1990-05-01T10:00:00.123456Z": micros(1990, 5, 1, 10, 0, 0, 123456),
        "1990-05-01T10:00:00.123Z": micros(1990, 5, 1, 10, 0, 0, 123000),
        "1990-05-01T10:00:00.1Z": micros(1990, 5, 1, 10, 0, 0, 100000),
        "1990-05-01 10:00:00.123456": micros(1990, 5, 1, 10, 0, 0, 123456),
        "1990-05-01 10:00:00.123Z": micros(1990, 5, 1, 10, 0, 0, 123000),
        "1990-05-01T10:00:00.1234567": micros(1990, 5, 1, 10, 0, 0, 123456),
        "1990-05-01T10:00:00+02:00": micros(1990, 5, 1, 8),
        "1990-05-01T10:00:00-0530": micros(1990, 5, 1, 15, 30),
        "1990-05-01T10:00:00 UTC": micros(1990, 5, 1, 10),
        "1990-05-01T10:00:00 Europe/Paris": micros(1990, 5, 1, 8),
        "1990-05-01T10:00:00.5+01:00": micros(1990, 5, 1, 9, 0, 0, 500000),
        "1990-05-01T10:00": micros(1990, 5, 1, 10),
        "1990-05-01 10:00": micros(1990, 5, 1, 10),
        "1990-5-1": micros(1990, 5, 1),
        "2023-05": micros(2023, 5, 1),
        "+1990-05-01": micros(1990, 5, 1),
        "  1990-05-01  ": micros(1990, 5, 1),
        "99999-01-01": 3093496444800000000,
        "2023": 2023 * 10**6,                  # numeric: epoch seconds
        "1.5e9": micros(2017, 7, 14, 2, 40),
        "-86400": micros(1969, 12, 31),
        "1990-05-01T": None,
        "1990-13-01": None,
        "1990-02-30": None,
        "1990/05/01": None,
        "": None,
        "Infinity": None,
    }
    assert _apply(spark, list(edge), lambda c: F.unix_micros(parse_datetime(c))) == list(
        edge.values()
    )

    # on a non-UTC session a string without zone is read in the session
    # zone; a trailing Z still means UTC
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        local = {
            "1990-05-01": micros(1990, 4, 30, 15),
            "1990-05-01 10:00:00": micros(1990, 5, 1, 1),
            "1990-05-01T10:00:00.123456": micros(1990, 5, 1, 1, 0, 0, 123456),
            "1990-05-01T10:00:00+02:00": micros(1990, 5, 1, 8),
            "768132000": micros(1994, 5, 5, 10),
            "1990-05-01T10:00:00Z": micros(1990, 5, 1, 10),
        }
        got = _apply(spark, list(local), lambda c: F.unix_micros(parse_datetime(c)))
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert got == list(local.values())


def test_parse_datetime_epoch_heuristic(spark):
    # 768132000 sec = 1994-05-05T10:00:00 UTC; the millis variant
    # 768132000000 (> 1e10) divides back to the same instant
    sec = dt.datetime(1994, 5, 5, 10, 0)
    out = _apply(spark, ["768132000", "768132000000"], parse_datetime)
    assert out == [sec, sec]
    # boundary: 1e10 exactly -> seconds; above -> millis
    out2 = _apply(spark, ["10000000000", "10000000001"], parse_datetime)
    assert out2[0] == dt.datetime(2286, 11, 20, 17, 46, 40)
    assert out2[1] == dt.datetime(1970, 4, 26, 17, 46, 40, 1000)


def test_parse_datetime_or_now_defaults(spark):
    out = _apply(spark, [None, "garbage"], parse_datetime_or_now)
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    for v in out:
        assert v is not None and abs((v - now).total_seconds()) < 3600


def test_parse_interests(spark):
    cases = {
        "music, sports": ["music", "sports"],
        "art": ["art"],
        "a,b , c": ["a", "b", "c"],
        "": None,
        "nan": None,
        None: None,
    }
    out = _apply(spark, list(cases), parse_interests)
    assert out == list(cases.values())


def test_pg_array_literal(spark):
    df = spark.createDataFrame(
        [(["a", "b"],), (["o'x"],), ([],), (None,)], "v array<string>"
    )
    out = [r[0] for r in df.select(pg_array_literal(F.col("v"))).collect()]
    assert out == ["{'a','b'}", "{'o''x'}", None, None]


def test_normalize_status(spark):
    cases = {
        "ACTIVE": "ACTIVE", "actif": "ACTIVE", "ENABLED": "ACTIVE",
        " Inactive ": "INACTIVE", "INACTIF": "INACTIVE", "disabled": "INACTIVE",
        "BANNED": "BANNED", "banni": "BANNED", "blocked": "BANNED",
        "garbage": "ACTIVE", None: "ACTIVE",
    }
    out = _apply(spark, list(cases), normalize_status)
    assert out == list(cases.values())


def test_placeholder_email_and_uuid(spark):
    df = spark.createDataFrame([("u1",), (None,)], "uid string")
    out = [r[0] for r in df.select(placeholder_email("uid")).collect()]
    assert out == [
        "google_user_u1@placeholder.com",
        "google_user_unknown@placeholder.com",
    ]
    ids = [r[0] for r in spark.range(100).select(uuid20().alias("u")).collect()]
    assert all(len(i) == 20 for i in ids)
    assert len(set(ids)) == 100


def test_bpeish_tokenizer_segmentation(spark):
    """GPT-2-style pre-tokenizer: contractions split off, letter/digit/punct
    runs separate, whitespace glues forward (dropped as standalone)."""
    from firebase_etl_spark.operators.text import bpeish_tokens

    df = spark.createDataFrame(
        [("it's 42 files, don't panic!",)], "text string"
    )
    toks = df.select(bpeish_tokens("text").alias("t")).collect()[0]["t"]
    assert toks == ["it", "'s", " 42", " files", ",", " don", "'t", " panic", "!"]
