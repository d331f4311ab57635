"""Degenerate-input robustness: every representative operator family must
handle an EMPTY corpus/table without raising — at cluster scale empty
partitions and empty post-filter inputs are routine, and an operator that
throws on them kills the whole job."""

from __future__ import annotations

import os

import pytest

from firebase_etl_spark.operators import dedup_approx as DA
from firebase_etl_spark.operators import text as TX


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars int"
    )


@pytest.fixture(scope="module")
def empty_events(spark):
    # ts as epoch microseconds: load_table reads events.ts as a long
    return spark.createDataFrame(
        [],
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    )


def test_empty_simhash_near_dups(spark, empty_docs):
    assert DA.simhash_near_dups(empty_docs, max_hamming=4).count() == 0
    assert DA.simhash_near_dups(empty_docs, max_hamming=4, portable=True).count() == 0


def test_empty_minhash_near_dups(spark, empty_docs):
    assert DA.minhash_near_dups(empty_docs).count() == 0


def test_empty_winnow_near_dups(spark, empty_docs):
    assert TX.winnow_near_dups(empty_docs, portable=True).count() == 0


def test_empty_exact_dedup(spark, empty_docs):
    assert DA.exact_dedup(empty_docs).count() == 0
    assert DA.exact_dedup_summary(empty_docs).collect()[0]["n_docs"] is None or \
        DA.exact_dedup_summary(empty_docs).collect()[0]["n_docs"] == 0


def test_empty_bigram_lm(spark, empty_docs):
    from firebase_etl_spark.operators.lm import bigram_lm_scores

    assert bigram_lm_scores(empty_docs).count() == 0


def test_empty_packing(spark, empty_docs):
    from firebase_etl_spark.operators.packing import packed_spans

    assert packed_spans(empty_docs).count() == 0


def test_empty_bpe(spark, empty_docs):
    from firebase_etl_spark.operators.bpe import bpe_train

    assert bpe_train(empty_docs, spark, n_merges=3).count() == 0


def test_empty_pii(spark, empty_docs):
    from firebase_etl_spark.operators.pii import scrub_pii

    assert scrub_pii(empty_docs).count() == 0


def test_empty_gopher(spark, empty_docs):
    from firebase_etl_spark.operators.quality import gopher_quality_flags

    assert gopher_quality_flags(empty_docs).count() == 0


def test_empty_sessions_and_funnel_shapes(spark, empty_events, tmp_path):
    """Event-family queries run against an empty events parquet dir."""
    import firebase_etl_spark.plans.queries_ext as QX

    sf = str(tmp_path)
    empty_events.write.parquet(os.path.join(sf, "events.parquet"))
    assert QX.user_sessions(spark, sf).count() == 0
    assert QX.user_retention_cohorts(spark, sf).count() == 0
    r = QX.events_funnel_report(spark, sf).collect()[0]
    assert r["n_view"] == 0


def test_empty_pagerank(spark):
    from firebase_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long, w long")
    assert pagerank(edges, n_iter=3).count() == 0


def test_empty_fuzzy_link(spark):
    from firebase_etl_spark.operators.linkage import fuzzy_link

    probes = spark.createDataFrame([], "probe_id long, probe_name string")
    targets = spark.createDataFrame([(1, "Customer#000000001")],
                                    "target_id long, target_name string")
    assert fuzzy_link(probes, targets).count() == 0
    # and the mirror case: no targets
    p2 = spark.createDataFrame([(1, "Customer#00000001")],
                               "probe_id long, probe_name string")
    t2 = spark.createDataFrame([], "target_id long, target_name string")
    assert fuzzy_link(p2, t2).count() == 0


def test_empty_bpe_vocab(spark, empty_docs):
    from firebase_etl_spark.operators.bpe import bpe_vocab

    assert bpe_vocab(empty_docs, spark, n_merges=3).count() == 0


def test_empty_dsir_log_weights(spark, empty_docs):
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.dsir import dsir_log_weights

    out = dsir_log_weights(empty_docs, target=F.col("lang") == "en")
    assert out.count() == 0
    assert set(out.columns) == {
        "doc_id",
        "n_tokens",
        "log_weight_e6",
        "log_weight",
    }


def test_empty_random_projection_and_rp_topk(spark):
    from firebase_etl_spark.operators import similarity as SIM

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    planes = SIM.rp_planes(out_dim=4, in_dim=3, seed=1)
    assert SIM.random_projection(empty_emb, planes).count() == 0
    assert SIM.rp_topk(empty_emb, [0, 1], planes, k=5).count() == 0


def test_synth_partsupp_covers_catalog_on_empty_lineitem(spark, tmp_path):
    """With no lineitem rows the synthetic PARTSUPP must still produce the
    4-per-part catalog baseline (never-ordered parts keep suppliers)."""
    import pyspark.sql.functions as F

    from firebase_etl_spark.plans.queries import synth_partsupp

    d = str(tmp_path)
    spark.createDataFrame(
        [], "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double"
    ).write.parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(i,) for i in range(6)], "p_partkey long"
    ).write.parquet(f"{d}/part.parquet")
    spark.createDataFrame(
        [(i,) for i in range(8)], "s_suppkey long"
    ).write.parquet(f"{d}/supplier.parquet")
    ps = synth_partsupp(spark, d)
    rows = ps.collect()
    assert len(rows) == 24  # 6 parts x 4 suppliers, all distinct
    per_part = ps.groupBy("ps_partkey").count().collect()
    assert all(r["count"] == 4 for r in per_part)
    assert all(
        0 <= r["ps_suppkey"] < 8 and r["ps_availqty"] >= 1
        and r["ps_supplycost"] >= 100.0
        for r in rows
    )


def test_random_projection_null_and_ragged_rows_project_to_null(spark):
    """NULL or wrong-width embeddings must yield a NULL projection (the
    Column-expression null-propagation contract), not crash the batch."""
    from firebase_etl_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, None), (2, [1.0, 2.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    planes = SIM.rp_planes(out_dim=2, in_dim=3, seed=7)
    rows = {r["vec_id"]: r["rp"] for r in SIM.random_projection(df, planes).collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[0] is not None and rows[3] is not None and len(rows[0]) == 2


def test_empty_bm25_and_duplicate_windows(spark, empty_docs):
    from firebase_etl_spark.operators.retrieval import bm25_topk
    from firebase_etl_spark.operators.text import duplicate_window_report

    assert bm25_topk(empty_docs, [0, 1], k=5).count() == 0
    assert duplicate_window_report(empty_docs, k=3).count() == 0


def test_empty_label_centroids(spark):
    from firebase_etl_spark.operators.classify import (
        label_centroid_confusion,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert label_centroid_confusion(empty).count() == 0


def test_empty_hybrid_rrf(spark, empty_docs):
    from firebase_etl_spark.operators.retrieval import hybrid_rrf_topk

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert hybrid_rrf_topk(empty_docs, empty_emb, [0, 1], k=5).count() == 0
