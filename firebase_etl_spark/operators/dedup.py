"""Keep-latest-per-key deduplication — the engine's flagship operator.

Parity target: reference user_transformer.py:236-320
(detect_and_remove_duplicates): normalize key, drop null keys, compute
per-value duplicate stats, sort by parsed order column (nulls first),
drop_duplicates(keep='last') — i.e. one survivor per key, the one with the
greatest order value; null order values lose.

Spark-first design:
- The pandas sort-then-drop-duplicates collapses into ONE window:
  ``row_number() over (partition by key order by ord DESC NULLS LAST,
  tiebreaker DESC)`` then ``rn = 1``. A single hash shuffle on the key —
  no global sort (the reference's O(n log n) total sort disappears).
- pandas ``keep='last'`` breaks ties by input position, which is
  non-deterministic in a distributed engine; the tiebreaker column makes
  survivor choice explicit and reproducible (documented semantic change,
  SURVEY §7.3a).
- For 100 TB with skewed keys the window shuffles every row of a hot key to
  one task. ``two_phase=True`` pre-aggregates ``max(ord)`` per key
  (map-side partial agg) and semi-joins survivors, which handles hot keys
  without a per-key total sort; use when a key can have millions of rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ordering(order_col: Column, tiebreaker: Column, keep: str) -> list[Column]:
    if keep == "last":  # greatest order value survives; NULL order loses
        return [order_col.desc_nulls_last(), tiebreaker.desc_nulls_last()]
    # keep == 'first': smallest order value survives; NULL order still loses
    return [order_col.asc_nulls_last(), tiebreaker.asc_nulls_last()]


def dedup_keep_latest(
    df: DataFrame,
    key: str = "email",
    order_col: Column | str = "createdAt",
    tiebreaker: Column | str = "id",
    keep: str = "last",
    drop_null_keys: bool = True,
) -> DataFrame:
    """One survivor per ``key``: greatest ``order_col`` (keep='last') or
    smallest (keep='first'); ties broken by ``tiebreaker``; keep='all' is a
    no-op passthrough (stats-only mode)."""
    if keep == "all":
        return df
    o = F.col(order_col) if isinstance(order_col, str) else order_col
    t = F.col(tiebreaker) if isinstance(tiebreaker, str) else tiebreaker
    out = df
    if drop_null_keys:
        out = out.filter(F.col(key).isNotNull())
    w = Window.partitionBy(key).orderBy(*_ordering(o, t, keep))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_keep_latest_two_phase(
    df: DataFrame,
    key: str = "email",
    order_col: str = "createdAt",
    tiebreaker: str = "id",
) -> DataFrame:
    """Keep-latest via struct-max partial agg + join-back. Equivalent to
    keep='last' with the same tiebreaker.

    MEASURED (ROUND5_NOTES.md §6): on Spark >=3.5
    this twin is REDUNDANT as a skew defense and ~1.5x slower at every
    amplification (2M/10M/30M rows, 30% of rows on one hot key) — the
    optimizer plans ``row_number()==1`` as WindowGroupLimit with a Partial
    stage BEFORE the shuffle, so each map partition already prunes every key
    to <=1 row and the hot key reaches the reduce-side sort with at most one
    row per upstream partition. Prefer :func:`dedup_keep_latest`; this
    fallback exists for engines without WindowGroupLimit and as executable
    documentation of the manual pattern."""
    best = df.groupBy(key).agg(
        F.max(F.struct(F.col(order_col), F.col(tiebreaker))).alias("__best")
    )
    return (
        df.filter(F.col(key).isNotNull())
        .join(
            best.select(
                key,
                F.col(f"__best.{order_col}").alias("__bo"),
                F.col(f"__best.{tiebreaker}").alias("__bt"),
            ),
            on=key,
        )
        .filter((F.col(order_col) == F.col("__bo")) & (F.col(tiebreaker) == F.col("__bt")))
        .drop("__bo", "__bt")
    )


def duplicate_stats(
    df: DataFrame, key: str = "email", id_col: str = "id"
) -> DataFrame:
    """Per-duplicated-value stats: count + sorted member ids
    (reference user_transformer.py:252-274, A7/W3). One aggregation, map-side
    partial counts; collect_list only on rows already known duplicated would
    require a second pass, so we aggregate once and filter count>1."""
    return (
        df.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.array_sort(F.collect_list(F.col(id_col))).alias("member_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )
