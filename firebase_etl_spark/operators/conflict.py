"""Conflict resolution against a load target — anti-join + id regeneration.

Parity target: reference main.py:144-154 + postgres_loader.py:54-86: fetch
all existing target ids, per-row membership test, regenerate colliding ids by
rejection-sampling uuid4 prefixes (J2/J3).

Spark-first design: the O(n·m) membership loop becomes a broadcast join.
The existing-id side is a single projected column (column pruning pushes to
the source scan); it is usually small enough to broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from firebase_etl_spark.functions.identity import uuid20


def skip_conflicts(incoming: DataFrame, existing: DataFrame, key: str = "id") -> DataFrame:
    """Rows whose key does not already exist in the target (left anti)."""
    return incoming.join(F.broadcast(existing.select(key)), key, "left_anti")


#: redraw rounds unrolled into the plan; a fresh uuid20 hitting the target
#: even once is ~impossible, so rows still colliding after these are dropped
ID_REDRAW_ROUNDS = 5


def resolve_id_conflicts(incoming: DataFrame, existing: DataFrame, key: str = "id") -> DataFrame:
    """Give every incoming row whose ``key`` exists in the target a fresh
    uuid20; the other rows and columns pass through unchanged.

    Guarantee: the output's keys are disjoint from the target's keys. Fresh
    ids are not checked against the other incoming keys. One lazy plan, no
    Spark action: each round left-joins the rows against the broadcast
    target ids tagged ``__hit`` and redraws the hits' keys, so each fresh id
    is drawn once on one branch; a final left-anti join drops any row still
    colliding after ``ID_REDRAW_ROUNDS`` rounds.
    """
    # distinct so a duplicated target id cannot fan a row out in the left
    # join; the side is broadcast whole anyway, so deduplicating it in one
    # partition costs no shuffle
    hits = F.broadcast(
        existing.select(key).coalesce(1).distinct().withColumn("__hit", F.lit(True))
    )
    out = incoming
    for _ in range(ID_REDRAW_ROUNDS):
        out = (
            out.join(hits, key, "left")
            .withColumn(key, F.when(F.col("__hit"), uuid20()).otherwise(F.col(key)))
            .drop("__hit")
        )
    return out.join(hits, key, "left_anti").select(*incoming.columns)


def cascade_purge_audit(
    roots: DataFrame,
    root_key: str,
    chain: list,
) -> DataFrame:
    """Right-to-be-forgotten impact analysis: given a deletion list of
    root keys, walk the foreign-key chain and report per table how many
    rows a cascading purge would remove — the dry-run every GDPR/CCPA
    deletion pipeline executes before issuing destructive deletes (the
    destructive half is the reference's delete-by-key sink,
    postgres_loader.py:405-424; this operator is its audit twin).

    ``chain`` is a list of (table_name, df, fk_col, pk_col) hops: rows of
    each hop matching the previous level's surviving keys are purged, and
    that hop's ``pk_col`` values become the next level's key set (pass
    pk_col=None for a leaf). Each hop is ONE left-semi join against the
    (typically tiny, broadcastable) purged-key set plus one count
    aggregate — keys flow down the chain, fact tables are never joined to
    each other. Returns one row per table: (table, n_rows, n_purged,
    purge_rate), deletion list first."""
    if not chain:
        raise ValueError("chain must be non-empty")
    # materialize the (tiny) deletion-key set at every hop: each level's
    # keys are consumed by the semi join AND the next hop's derivation,
    # and without truncation hop N re-plans every earlier hop's joins
    # (the plan-audit repeated-scans flag showed the root dim scanned 7x)
    keys = (
        roots.select(F.col(root_key).alias("__k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out = []
    level_keys = keys
    for name, df, fk_col, pk_col in chain:
        hit = df.join(
            F.broadcast(level_keys.withColumnRenamed("__k", fk_col)),
            fk_col,
            "left_semi",
        )
        stats = (
            df.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(
                F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_purged")))
            )
            .select(
                F.lit(name).alias("table"),
                "n_rows",
                "n_purged",
                F.round(F.col("n_purged") / F.col("n_rows"), 6).alias(
                    "purge_rate"
                ),
            )
        )
        out.append(stats)
        if pk_col is not None:
            level_keys = (
                hit.select(F.col(pk_col).alias("__k"))
                .distinct()
                .localCheckpoint(eager=True)
            )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.orderBy("table")
