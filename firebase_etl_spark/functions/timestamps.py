"""Multi-format datetime parsing — native, UDF-free.

Parity target: reference user_transformer.py:83-148 (_parse_datetime), which
tries, in order: 5 strptime formats, a generic pandas coerce, Firebase
Timestamp ``.seconds``, and unix epoch int/float with a ``>1e10`` ⇒
milliseconds heuristic; anything unparseable becomes NULL.

Spark expression: one ``try_cast`` to timestamp for non-numeric strings
plus the epoch branch. Spark's string-to-timestamp cast already accepts
every reference format (date only, ``T`` or space separator, fractions of
up to six digits, a trailing ``Z`` or offset, and the ISO-ish forms the
generic coerce took), so one cast replaces a cascade of
``try_to_timestamp`` patterns. The cast is case-sensitive in its ``T``
and ``Z`` separators, so a lowercase spelling retries on the upper-cased
string. Whole-stage-codegen'd, no Python in the loop — this runs at full
JVM speed on 100 TB, unlike a strptime UDF.

Zones: a string without zone is read in the session time zone (UTC on
``get_spark()`` sessions). A trailing ``Z`` always means UTC, also on
a non-UTC session; the earlier pattern cascade read ``...T10:00:00Z``
and six-digit-fraction ``Z`` strings in the session zone.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Epoch magnitude boundary: values > 1e10 are milliseconds, else seconds
#: (reference user_transformer.py:138-144).
_EPOCH_MS_BOUNDARY = 1e10


def parse_datetime(col: Column | str) -> Column:
    """Parse a messy string/numeric column to TimestampType; invalid -> NULL."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.trim(c.cast("string"))
    as_num = s.try_cast("double")
    epoch = F.when(
        F.abs(as_num) > F.lit(_EPOCH_MS_BOUNDARY),
        F.timestamp_millis(as_num.try_cast("long")),
    ).otherwise(F.timestamp_seconds(as_num))
    # a purely numeric string takes the epoch heuristic, never the cast
    # (which would read it as a year)
    cast = F.coalesce(s.try_cast("timestamp"), F.upper(s).try_cast("timestamp"))
    return F.when(as_num.isNull(), cast).otherwise(epoch)


def parse_datetime_or_now(col: Column | str) -> Column:
    """Required-timestamp variant: unparseable/NULL defaults to load time
    (reference user_transformer.py:342-343)."""
    return F.coalesce(parse_datetime(col), F.current_timestamp())


def to_iso_string(col: Column | str) -> Column:
    """Timestamp -> ISO-8601 string (reference datastore_service.py:153-155)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
