"""Optimizer-behavior regression tests: pin the physical-plan properties the
engine relies on at scale (pushdown, pruning, broadcast, window-limit).
These fail if a code change silently de-optimizes a headline query."""

from __future__ import annotations

from pyspark.sql import functions as F

from firebase_etl_spark.plans import queries as Q
from firebase_etl_spark.plans.inspect import (
    has_pushed_filter,
    has_window_group_limit,
    physical_plan,
    scans_read_columns,
    shuffle_count,
    uses_broadcast_join,
)
from firebase_etl_spark.sources.tables import load_table


def test_q1_filter_pushdown(spark, sf_dir):
    df = Q.q1_pricing_summary(spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate")


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    schemas = scans_read_columns(df)
    assert schemas and all(
        "l_extendedprice" not in s for s in schemas
    ), f"projection not pruned: {schemas}"


def test_dimension_joins_broadcast(spark, sf_dir):
    df = Q.revenue_by_region(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_dedup_uses_window_group_limit(spark, sf_dir):
    df = Q.latest_order_per_customer(spark, sf_dir)
    assert has_window_group_limit(df)


def test_top100_avoids_global_sort(spark, sf_dir):
    df = Q.global_top100_orders(spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_limit_zero_schema_probe_no_scan(spark, sf_dir):
    """S11 LIMIT-0 probe equivalent: schema resolution is plan-time only."""
    df = load_table(spark, "lineitem", sf_dir)
    assert len(df.schema.fields) == 11  # no job ran to get this
    assert df.limit(0).count() == 0


def test_q6_all_filters_pushed(spark, sf_dir):
    df = Q.q6_forecast_revenue(spark, sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filter(df, col), col
    # projection pruned to the four needed columns
    schemas = scans_read_columns(df)
    assert schemas and all("l_orderkey" not in s for s in schemas)


def test_q14_broadcasts_dimension(spark, sf_dir):
    assert uses_broadcast_join(Q.q14_promo_revenue(spark, sf_dir))


def test_q18_top100_no_global_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in physical_plan(Q.q18_large_orders(spark, sf_dir))


def test_q4_semi_join_prunes_probe_side(spark, sf_dir):
    df = Q.q4_order_priority(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    # lineitem probe side reads only the join key + pushed filter column
    schemas = scans_read_columns(df)
    assert any(
        "l_orderkey" in s and "l_quantity" not in s and "l_extendedprice" not in s
        for s in schemas
    ), schemas


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Data skipping: reading one partition of a partitionBy'd dataset must
    plan partition filters, not scan-and-filter."""
    from firebase_etl_spark.sinks.files import write_parquet

    li = load_table(spark, "lineitem", "/root/testdata/sf0.001")
    path = str(tmp_path / "li_by_flag")
    write_parquet(li, path, partition_by=["l_returnflag"])
    rd = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    plan = physical_plan(rd)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters", 1)[1][:200]
    n_r = rd.count()
    assert 0 < n_r < li.count()


def test_q7_nation_pair_filter_pushed_to_both_scans(spark, sf_dir):
    """The disjunctive nation-pair predicate must split and push into BOTH
    nation dimension scans (Catalyst infers per-side domains), and every
    dimension join must broadcast."""
    df = Q.q7_nation_volume(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("EqualTo(n_name,NATION_1)") >= 2
    assert uses_broadcast_join(df)
    assert has_pushed_filter(df, "l_shipdate")


def test_q21_semi_anti_joins_no_cartesian(spark, sf_dir):
    """The correlated EXISTS/NOT EXISTS pair must compile to semi/anti hash
    joins — never a nested-loop/cartesian shape."""
    df = Q.q21_waiting_suppliers(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_scalar_threshold_broadcasts(spark, sf_dir):
    """The avg-acctbal scalar joins as a broadcast (one row), and the
    dormancy check is a left-anti join, not a subquery re-scan per row."""
    df = Q.q22_global_sales_opportunity(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert uses_broadcast_join(df)


def test_grid_all_pairs_no_driver_side_plan(spark, sf_dir):
    """The grid all-pairs plan is one connected dataflow: packing shuffle +
    block-pair join + mapInPandas — and mapInPandas appears in the PLAN
    (distributed), with no collect-feeding-literal pattern (a local
    relation would show as LocalTableScan on the corpus side)."""
    from firebase_etl_spark.operators.similarity import cosine_all_pairs_grid

    e = load_table(spark, "embeddings", sf_dir)
    plan = physical_plan(cosine_all_pairs_grid(e, threshold=0.4))
    assert "MapInPandas" in plan
    assert "LocalTableScan" not in plan


def test_contamination_screen_broadcasts_probes_no_smj(spark, sf_dir):
    """The 5-gram containment join must broadcast the (tiny) probe side and
    the zero-preserving probe left-join must not fall back to sort-merge —
    at corpus scale an SMJ there would shuffle the corpus gram explosion."""
    from firebase_etl_spark.plans.queries_ext import doc_contamination_screen

    df = doc_contamination_screen(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gopher_report_no_cartesian_all_doc_partitioned(spark, sf_dir):
    """The quality report's joins stay doc-keyed (no cross joins); the scan
    prunes to the columns it needs."""
    from firebase_etl_spark.plans.queries_ext import doc_gopher_quality_report

    # another test may have cached `documents`; pruning is only visible on
    # a real parquet scan, not an InMemoryRelation
    spark.catalog.clearCache()
    df = doc_gopher_quality_report(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    schemas = scans_read_columns(df)
    assert schemas and all("n_chars" not in s for s in schemas), schemas


def test_stratified_sample_hash_is_scan_only(spark, sf_dir):
    """The universe sampler must stay a scan-side filter: no join, no extra
    shuffle beyond the final per-stratum aggregate."""
    from firebase_etl_spark.operators.stats import stratified_sample_hash
    from firebase_etl_spark.sources.tables import load_table as lt

    e = lt(spark, "events", sf_dir)
    s = stratified_sample_hash(
        e, "event_type", {"click": 0.1, "view": 1.0}, key_col="event_id"
    )
    plan = physical_plan(s)
    for op in ("Join", "Exchange", "Sort"):
        assert op not in plan, f"{op} in sampler plan"


def test_segment_dedup_single_content_shuffle_no_cartesian(spark, sf_dir):
    """Segment dedup must stay keyed end-to-end: the first-occurrence
    election joins on segment content (hash join, never cartesian) and the
    scan prunes to (doc_id, text)."""
    from firebase_etl_spark.operators.text import segment_dedup

    spark.catalog.clearCache()
    d = load_table(spark, "documents", sf_dir)
    df = segment_dedup(d)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    schemas = scans_read_columns(df)
    assert schemas and all("lang" not in s for s in schemas), schemas


def test_scd2_windows_share_one_key_partitioning(spark, sf_dir):
    """Both SCD2 windows and the regime collapse are keyed on the dimension
    key — the plan must not contain a single-partition (empty-key) window,
    which is the all-on-one-task trap."""
    from firebase_etl_spark.plans.queries_ext import customer_status_scd2

    plan = physical_plan(customer_status_scd2(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_quantized_topk_broadcasts_stats_and_probes(spark, sf_dir):
    """The quantized ANN must broadcast the per-dim range row and the probe
    set — a sort-merge join anywhere in the shortlist path would shuffle
    the corpus per probe."""
    from firebase_etl_spark.plans.queries_ext import embedding_topk_quantized

    plan = physical_plan(embedding_topk_quantized(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_skew_profile_broadcasts_totals(spark, sf_dir):
    """The per-type totals (a handful of rows) must broadcast back onto the
    top-key rows."""
    from firebase_etl_spark.plans.queries_ext import events_key_skew_profile

    plan = physical_plan(events_key_skew_profile(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_features_plan_window_and_sort_free(spark, sf_dir):
    """The Gopher gram pipeline must stay zip-slice shaped: no Window, no
    token-row Sort, exactly one Exchange (the doc repartition), and the
    count aggregate keyed on the gram HASH (no string key)."""
    from firebase_etl_spark.operators.quality import repetition_features

    spark.catalog.clearCache()
    df = repetition_features(load_table(spark, "documents", sf_dir))
    plan = physical_plan(df)
    assert "Window" not in plan
    assert shuffle_count(df) == 1, physical_plan(df)
    assert "xxhash64" in plan  # hash-keyed gram counts


def test_winnow_fingerprints_plan_window_free(spark, sf_dir):
    """Winnowing must stay zip-slice shaped: no Window operator and a
    single doc-repartition Exchange; the sliding min is least() over
    zipped shifts, not a rows-frame window."""
    from firebase_etl_spark.operators.text import winnow_fingerprints

    spark.catalog.clearCache()
    df = winnow_fingerprints(load_table(spark, "documents", sf_dir))
    plan = physical_plan(df)
    assert "Window" not in plan
    assert shuffle_count(df) == 1, plan


def test_simhash_banded_join_broadcasts_small_corpus(spark, sf_dir):
    """Below the size threshold the banded self-join must broadcast its
    build side (mega-bucket skew spreads over probe tasks); the verify
    filter must precede the distinct."""
    from firebase_etl_spark.operators import dedup_approx as DA

    d = load_table(spark, "documents", sf_dir)
    fp = DA.simhash(d).persist()
    try:
        import pyspark.sql.functions as SF

        banded = fp.select(
            "doc_id", "simhash",
            SF.posexplode(
                SF.array(*[
                    SF.shiftrightunsigned("simhash", off).bitwiseAND(
                        SF.lit((1 << 13) - 1)
                    )
                    for off in (0, 13, 26, 39, 52)
                ])
            ).alias("band", "band_bits"),
        )
        a = banded.select(SF.col("doc_id").alias("id_a"), "band", "band_bits")
        b = SF.broadcast(
            banded.select(SF.col("doc_id").alias("id_b"), "band", "band_bits")
        )
        joined = a.join(b, ["band", "band_bits"])
        assert "BroadcastHashJoin" in physical_plan(joined)
    finally:
        fp.unpersist()


def test_declared_sql_queries_leave_no_temp_views(spark, sf_dir):
    """Queries that pass frames into spark.sql must not leave a named temp
    view behind: a fixed-name view is state shared by every thread on the
    session. A child session gives a temp-view catalog of its own."""
    from firebase_etl_spark.plans import queries_ext as QX

    s = spark.newSession()

    def temp_views():
        return {t.name for t in s.catalog.listTables() if t.isTemporary}

    before = temp_views()
    for query in (
        Q.lineitem_grouping_sets,
        Q.q17_small_quantity_revenue,
        QX.top_bigrams_udtf,
        QX.rtdb_export_segment_stats,
    ):
        assert query(s, sf_dir).collect(), query.__name__
    assert temp_views() == before
