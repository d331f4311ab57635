"""Benchmark decontamination — flag training documents that share word
n-grams with a held-out evaluation/benchmark set (the pre-training hygiene
step every LLM data pipeline runs before a corpus snapshot ships; extension
beyond the reference, which stops at exact-key dedup).

Semantics (the published recipe, e.g. GPT-3 appendix C / PaLM §6):
tokenize both sides, take each document's DISTINCT word n-grams, and count
per training document how many distinct n-grams also occur anywhere in the
benchmark set. A document with ``overlap >= threshold`` is contaminated.

Scale shape: benchmark sets are tiny next to the corpus (thousands of
probes vs billions of docs), so the probe n-gram set is deduped and
BROADCAST — the corpus side is one explode of per-doc distinct grams
(``array_distinct`` caps the explode at doc length, no corpus-wide
distinct) followed by a map-side hash-join and ONE shuffle keyed by doc_id
for the overlap count. Nothing quadratic, nothing driver-side.

At 100 TB you would key the join on ``xxhash64(gram)`` instead of the
string (fixed-width join keys, no long-string exchange); kept as strings
here so the DuckDB oracle replays the exact same values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from firebase_etl_spark.operators.text import word_shingles


def ngram_overlap(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document distinct n-gram overlap with the probe set.

    Returns (id_col, overlap) for documents with overlap >= 1; docs with
    zero overlap are absent (join them back with a left join + coalesce 0,
    as decontamination_report does)."""
    probe_grams = (
        probes.select(F.explode(word_shingles(text_col, n)).alias("gram"))
        .distinct()
    )
    doc_grams = corpus.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(probe_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap"))
    )


def _contamination_summary(
    corpus: DataFrame,
    ov: DataFrame,
    threshold: int,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Shared tail of both report variants: join per-doc overlaps back to
    the corpus and aggregate per ``group_col``."""
    flagged = corpus.join(ov, id_col, "left").select(
        F.col(group_col),
        F.coalesce(F.col("overlap"), F.lit(0)).alias("overlap"),
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("overlap") >= threshold).cast("long")
            ).alias("n_contaminated"),
            F.max("overlap").alias("max_overlap"),
            F.sum("overlap").alias("total_overlap"),
            F.round(
                F.avg((F.col("overlap") >= threshold).cast("double")), 6
            ).alias("contamination_rate"),
        )
        .orderBy(group_col)
    )


def decontamination_report(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 8,
    threshold: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-``group_col`` contamination audit: how many documents would be
    dropped at ``overlap >= threshold``, the worst single-document overlap,
    and the contamination rate. One broadcast join + two keyed aggregates."""
    ov = ngram_overlap(corpus, probes, n, text_col, id_col)
    return _contamination_summary(corpus, ov, threshold, id_col, group_col)


def bloom_ngram_overlap(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fpp: float = 0.01,
    corpus_grams: DataFrame | None = None,
) -> DataFrame:
    """``ngram_overlap`` behind a Bloom-filter prefilter — the variant for
    probe sets too large to broadcast-hash-join as raw strings (a combined
    eval-benchmark suite can hold tens of millions of distinct n-grams;
    its Bloom bitmap at 1% fpp is ~1.2 bytes per gram).

    Plan shape: the probe grams are hashed JVM-side (``xxhash64`` with k
    seed salts) and their bit positions pulled to the driver ONCE (two
    tiny jobs over the probe side — the same "probe side is small next to
    the corpus" contract the broadcast variant documents); the packed
    numpy bitmap ships to executors via ``SparkContext.broadcast``. The
    corpus explode is then filtered MAP-SIDE by one Arrow-batched
    ``pandas_udf`` doing k vectorized bitmap lookups per gram — zero
    shuffle and zero string exchange until only candidate grams survive.
    Candidates are exactly verified against the true probe-gram set
    (broadcast string join), so Bloom false positives never reach the
    output and the result is BIT-IDENTICAL to ``ngram_overlap`` — which is
    how the DuckDB oracle verifies it: the oracle replays the exact path,
    so a false negative (impossible by construction: every inserted
    gram's bits are set) would surface as a driver hash mismatch.
    Equality with the exact operator is additionally pytest-pinned.

    Measured A/B (sf0.1, min-of-3,
    probe slices up to 1/3 of the corpus): a TIE at gate scale —
    0.04-0.07s both paths, bloom 1.05-1.15x — because the ~30-word
    synthetic vocabulary caps the probe-gram set at ~27k strings, so
    the string broadcast is already tiny. The bitmap's case is the
    documented memory ratio (~1.2 bytes/gram vs ~30+ bytes/gram
    broadcast-hashed string): it starts paying when probe gram sets
    reach tens of millions (combined eval suites), where the string
    broadcast costs GBs per executor. Same honest-tie discipline as
    the BM25 prune A/B (ROUND5_NOTES).

    ``corpus_grams`` is the caller-owned pre-built (id_col, gram) table
    — exactly ``explode(word_shingles(text_col, n))`` over the corpus
    (distinct-per-doc word n-grams); a caller that already pays a
    tokenize + shingle pass over the same corpus (documents_curation_v2
    shares one with its containment join) passes it in, skipping this
    function's own corpus scan. The caller owns persistence."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    probe_grams = (
        probes.select(F.explode(word_shingles(text_col, n)).alias("gram"))
        .distinct()
    )
    n_grams = probe_grams.count()
    # standard Bloom sizing: m = -G ln(p) / ln(2)^2, k = (m/G) ln 2
    m = max(64, int(math.ceil(-max(n_grams, 1) * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, int(round(m / max(n_grams, 1) * math.log(2))))

    def positions(gram):
        return [F.pmod(F.xxhash64(F.lit(i), gram), F.lit(m)) for i in range(k)]

    bits = (
        probe_grams.select(
            F.explode(F.array(*positions(F.col("gram")))).alias("pos")
        )
        .distinct()
        .collect()
    )
    bitmap = np.zeros(m, dtype=bool)
    bitmap[[r["pos"] for r in bits]] = True
    bc = corpus.sparkSession.sparkContext.broadcast(bitmap)

    # no type hints: star-args signatures only infer under the classic
    # SCALAR pandas_udf path (each arg arrives as a pandas Series)
    def _bf_contains(*pos_cols):
        bm = bc.value
        out = np.ones(len(pos_cols[0]), dtype=bool)
        for s in pos_cols:
            out &= bm[s.to_numpy()]
        return pd.Series(out)

    bf_contains = pandas_udf(_bf_contains, "boolean")

    if corpus_grams is not None:
        doc_grams = corpus_grams
    else:
        doc_grams = corpus.select(
            F.col(id_col), F.explode(word_shingles(text_col, n)).alias("gram")
        )
    candidates = doc_grams.filter(bf_contains(*positions(F.col("gram"))))
    return (
        candidates.join(F.broadcast(probe_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap"))
    )


def bloom_decontamination_report(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 8,
    threshold: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    fpp: float = 0.01,
) -> DataFrame:
    """``decontamination_report`` over the Bloom-prefiltered overlap path —
    same output, same oracle, different scale envelope (see
    ``bloom_ngram_overlap``)."""
    ov = bloom_ngram_overlap(corpus, probes, n, text_col, id_col, fpp)
    return _contamination_summary(corpus, ov, threshold, id_col, group_col)


def target_coverage_report(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Target-domain n-gram COVERAGE — the inverse question of
    decontamination: instead of "does the corpus leak the benchmark",
    "does the corpus COVER the target domain?" For every probe (target)
    document, the fraction of its distinct word n-grams that occur
    anywhere in the corpus; rolled up per probe group. Low coverage =
    the mixture under-represents that slice (the measurement DoReMi /
    temperature reweighting acts on); high coverage with low dedup
    distance = the slice is already saturated.

    Scale shape: the probe gram set is tiny and BROADCAST against one
    corpus gram stream (semi-join keeps only matching grams, then a
    bounded distinct on probe-gram cardinality) — the corpus is
    touched once, nothing quadratic. Output integers: per-group probe
    count, gram totals, covered totals, e6 fixed-point min/mean
    coverage and the fully-covered count."""
    pg = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(group_col).alias("grp"),
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias(
            "gram"
        ),
    )
    probe_grams = pg.select("gram").distinct()
    covered = (
        corpus.select(F.explode(word_shingles(text_col, n)).alias("gram"))
        .join(F.broadcast(probe_grams), "gram", "leftsemi")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_probe = (
        pg.join(F.broadcast(covered), "gram", "left")
        .groupBy("probe_id", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long")).alias(
                "n_covered"
            ),
        )
        .withColumn(
            "coverage_e6", F.expr("(n_covered * 1000000) DIV n_grams")
        )
    )
    return (
        per_probe.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_covered").alias("covered_grams"),
            F.min("coverage_e6").alias("min_coverage_e6"),
            F.expr(
                "(sum(n_covered) * 1000000) DIV sum(n_grams)"
            ).alias("gram_coverage_e6"),
            F.sum(
                (F.col("n_covered") == F.col("n_grams")).cast("long")
            ).alias("n_fully_covered"),
        )
        .orderBy(group_col)
    )
