"""Headline analytical queries over the synthetic star schema.

Each function takes (spark, sf_dir) and returns a DataFrame; each has an
ANSI-SQL oracle twin in ``oracles.py`` (run by DuckDB for the correctness
gate). Aggregate/computed columns are aliased identically on both sides —
the driver's compare sorts columns by name before hashing.

These exercise the operator inventory of SURVEY.md §2 on the driver's
synthetic tables, per the FIXTURES.md §5 mapping: dedup W2 ⇒ latest order
per customer; joins J1 ⇒ customer⋈nation⋈region; anti/semi J2/J3 ⇒
customers with(out) orders; aggregations A1-A8; windows W2-W5.

Scale notes are inline: every join states its expected physical strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from firebase_etl_spark.functions import portable_math as PM
from firebase_etl_spark.sources.tables import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with 8 partial-aggregable
    aggregates. One shuffle on a 6-value grouping key; no skew risk.
    Filter `l_shipdate <= date` is pushed to the parquet scan."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 flagship dedup on synthetic data: one surviving (latest) order per
    customer; ties broken by o_orderkey desc. Single hash-shuffle window."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc_nulls_last(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "o_orderstatus",
        )
    )


def customer_order_counts_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: duplicate-group detection — customers with more than one order
    (GROUP BY ... HAVING COUNT(*) > 1). Map-side partial count, tiny shuffle."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .filter(F.col("order_count") > 1)
    )


def dup_order_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-duplicated-key stats with the sorted member list, serialized
    as a CSV string so the oracle hash is representation-stable."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.array_join(
                F.array_sort(F.collect_list(F.col("o_orderkey").cast("string"))), ","
            ).alias("member_keys"),
        )
        .filter(F.col("order_count") > 1)
    )


def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: customer ⋈ nation ⋈ region ⋈ orders. nation/region are tiny
    dimensions -> broadcast (no shuffle of the fact side); customer⋈orders
    shuffles on custkey (AQE may still broadcast customer at small SF)."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    dim = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    return (
        o.join(dim, o.o_custkey == dim.c_custkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .orderBy("r_name")
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3: left anti join — customers that never ordered."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return c.join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def customers_with_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 complement: left semi join — customers having at least one order."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return c.join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


def order_status_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: GROUP BY status COUNT — the reference's provider-distribution
    shape (postgres_loader.py:437-442)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


def conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A6: conditional aggregates in one pass (count_if / boolean sums +
    a timestamp-range predicate P8 with a fixed reference date)."""
    o = load_table(spark, "orders", sf_dir)
    return o.agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count_if(F.col("o_orderstatus") == "F").alias("finished_orders"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("urgent_orders"),
        F.count_if(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        ).alias("recent_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: top-k per group — 3 most valuable orders per customer."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rk",
        )
    )


def null_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-column null counts over events in one aggregation pass."""
    e = load_table(spark, "events", sf_dir)
    return e.agg(
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("user_id_nulls"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("value_nulls"),
        F.count(F.when(F.col("props").isNull(), 1)).alias("props_nulls"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling-window aggregation: per (hour,
    event_type) counts + sums. date_trunc keeps it a plain hash aggregate."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def global_top100_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: global order + limit (TopK physical operator — Spark plans
    TakeOrderedAndProject, no full sort at scale)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on three tables, two joins, agg,
    top-10 by revenue. Filters push to every scan; the customer dimension
    broadcasts; lineitem⋈orders shuffles once on orderkey."""
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def order_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 point lookup: single-key get. The equality predicate pushes to the
    parquet scan (row-group skipping via min/max stats at scale)."""
    o = load_table(spark, "orders", sf_dir)
    return o.filter(F.col("o_orderkey") == 42).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


def masked_customer_emails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 string masking applied to customer names (display redaction)."""
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.concat(F.substring(F.col("c_name"), 1, 3), F.lit("***")).alias("masked_name"),
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive range filters + one global
    sum. Everything pushes to the parquet scan (date range, discount band,
    quantity cap) — the ideal plan reads a fraction of one column set and
    aggregates map-side; no shuffle beyond the final 1-row combine."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: per-order quantity rollup, HAVING-filtered semi-join
    back to orders+customer, top-100. The HAVING aggregate is a map-side
    partial sum on l_orderkey; the survivor set is tiny, so the join back to
    orders hashes on orderkey and customer broadcasts."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery as a left-semi join — orders with at
    least one late lineitem, counted per priority. The semi-join needs only
    l_orderkey from the probe side (column pruning to one column), and AQE
    picks broadcast for the deduped key set when it's small."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional aggregation (count_if on the
    priority class). The synthetic schema has no shipmode column, so the
    class splits on returnflag; the interesting part — pivot-style
    conditional sums in one pass — is intact."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("date")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count_if(high).alias("high_line_count"),
            F.count_if(~high).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dimension join + ratio of conditional sum
    to total sum in a single aggregation (no second scan)."""
    p = load_table(spark, "part", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.col("p_type").like("PROMO%")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(F.when(promo, rev).otherwise(F.lit(0.0))) / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window: per-customer running order total in date order
    (rows between unbounded preceding and current). One hash shuffle on
    custkey; top-5 customers by key keep the result small."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_custkey") <= 5)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


def order_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function family in one pass: rank, dense_rank, percent_rank,
    ntile(4) over order value within status. Single window shuffle."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderstatus",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("o_orderstatus", "rnk", "o_orderkey")


def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag, linestatus), (returnflag), ()) —
    the general form behind rollup/cube, one shuffle for all three levels."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS total_price,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY g_flag, g_status, l_returnflag, l_linestatus
        """,
        li=load_table(spark, "lineitem", sf_dir),
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery — lineitems below 20% of
    their part's average quantity. Catalyst decorrelates the subquery into
    an aggregate + join (no per-row re-execution); expressed via spark.sql
    so the decorrelation path itself is exercised. The part filter
    broadcasts; the per-part average is a map-side-combinable agg."""
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM {li}, {p}
        WHERE p_partkey = l_partkey
          AND p_type LIKE 'PROMO%'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity) FROM {li} l2
              WHERE l2.l_partkey = {li}.l_partkey
          )
        """,
        li=load_table(spark, "lineitem", sf_dir),
        p=load_table(spark, "part", sf_dir),
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join (lineitem⋈orders⋈customer⋈supplier⋈nation)
    with the co-location predicate c_nationkey = s_nationkey, revenue per
    nation. Dimensions broadcast; the fact-side join shuffles once on
    orderkey. Join order is Catalyst's call — the declared plan just states
    the predicates."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # nudged round: this revenue sum measurably lands on an
            # exact half-cent at sf0.01 (tools/round_audit.py), where
            # round(double) is engine-version-dependent; the RELATIVE
            # nudge term keeps working past the 2^24-cent magnitude
            # where a bare +1e-9 would be absorbed
            PM.round_nudged(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer, top 20.
    Selective returnflag filter pushes to the lineitem scan; customer and
    nation broadcast; TakeOrderedAndProject caps the output."""
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_mktsegment")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive branches over the joined
    pair. Catalyst extracts the common p_partkey=l_partkey conjunct so the
    join stays an equi-join (broadcast), with the OR residual as a post-join
    filter; per-branch quantity bands keep each disjunct selective."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    branch1 = (
        F.col("p_type").like("PROMO%") & (F.col("l_quantity").between(1, 11))
    )
    branch2 = (
        F.col("p_type").like("STANDARD%") & (F.col("l_quantity").between(10, 20))
    )
    branch3 = (F.col("p_size") <= 5) & (F.col("l_quantity").between(20, 30))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch1 | branch2 | branch3)
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )


def customer_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-customer ordered event history built with
    collect_list + array_sort, then scalar projections off the array
    (first/last/count). Output stays scalar so the oracle is trivially the
    min/max/count pair — the array path is the exercised machinery."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_custkey") <= 50)
    arr = F.array_sort(F.collect_list("o_orderdate"))
    return (
        o.groupBy("o_custkey")
        .agg(arr.alias("__dates"))
        .select(
            "o_custkey",
            F.element_at("__dates", 1).alias("first_order"),
            F.element_at("__dates", -1).alias("last_order"),
            F.size("__dates").alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year —
    lineitem⋈supplier⋈orders⋈customer plus TWO roles of the nation dim
    (supplier's and customer's), disjunctive nation-pair predicate, grouped
    by (supp_nation, cust_nation, year). Both nation copies broadcast; the
    pair filter prunes before the aggregate."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's volume for a part
    class, per year — 7-table join (two nation roles + region), with the
    share as a conditional-sum ratio over the grouped year. All dims
    broadcast; only lineitem⋈orders shuffles."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, "customer", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of per-customer order counts via LEFT
    OUTER join with an ON-clause filter (urgent orders excluded IN the join
    condition, so zero-order customers still appear with c_count = 0), then
    a second aggregation over the counts."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier as a reused subplan
    (the original's view), top supplier(s) via a scalar-max semi-predicate.
    Revenue is rounded to 2dp BEFORE the max comparison so Spark and the
    oracle agree on ties/float order."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, "supplier", sf_dir)
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: this dataset has no commit/receipt dates,
    so 'late' is modeled as l_returnflag = 'R'): suppliers who were the
    SOLE returned-line supplier on a finished multi-supplier order —
    correlated EXISTS (another supplier on the order) + NOT EXISTS (another
    supplier also returned), as left-semi and left-anti joins on orderkey.
    Reference shape: multi-exists decorrelation; cite TPC-H 21."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, "supplier", sf_dir)
    l1 = li.filter(F.col("l_returnflag") == "R")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    cand = l1.join(o, l1.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey"
    )
    with_other = cand.join(
        l2,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    sole_returner = with_other.join(
        l3,
        (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        sole_returner.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: no phone column, so the country code is
    c_nationkey mod 10): well-funded dormant customers — acctbal above the
    positive-balance average of the code group (scalar subquery broadcast),
    with no orders since 1999 (left-anti join), counted per code."""
    c = load_table(spark, "customer", sf_dir).withColumn(
        "cntrycode", (F.col("c_nationkey") % 10).cast("int")
    )
    codes = c.filter(F.col("cntrycode").isin(1, 3, 5, 7, 9))
    avg_bal = codes.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    recent_orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return (
        codes.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("ab"))
        .join(recent_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic PARTSUPP (the driver's star schema ships
    none): supply relationships = the DISTINCT (l_partkey, l_suppkey)
    pairs actually observed in lineitem, unioned with a 4-suppliers-per-
    part catalog baseline (offset j*floor(S/4) mod S for j in 0..3) so
    never-ordered parts still have suppliers. ps_availqty / ps_supplycost
    are pure integer-arithmetic functions of the key pair, so Spark and
    the DuckDB oracle derive bit-identical values with zero fixture I/O.

    Scale shape: one distinct-shuffle on the (partkey, suppkey) pair —
    partial-aggregable, no skew (pairs are near-unique already); the
    supplier count is a broadcast scalar; the baseline is |part| x 4 rows
    built without a shuffle."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    )
    s_cnt = (
        load_table(spark, "supplier", sf_dir)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    baseline = (
        load_table(spark, "part", sf_dir)
        .select("p_partkey")
        .crossJoin(F.broadcast(s_cnt))
        .select(
            "p_partkey",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
            "c",
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            (
                (F.col("p_partkey") + F.col("j") * F.floor(F.col("c") / 4))
                % F.col("c")
            ).cast("long").alias("ps_suppkey"),
        )
    )
    pairs = li.union(baseline).distinct()
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        (
            (F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7) % 9999 + 1
        ).cast("int").alias("ps_availqty"),
        (
            ((F.col("ps_partkey") * 29 + F.col("ps_suppkey") * 17) % 80000
             + 10000) / 100.0
        ).alias("ps_supplycost"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no p_mfgr/s_address columns, p_type
    prefix-match instead of '%BRASS'): for EUROPE suppliers, the minimum-
    cost supplier per size-15 ECONOMY part — the classic correlated
    MIN-subquery, decorrelated as a per-part min aggregate broadcast back
    onto the supply rows. Region/nation dims broadcast; the only shuffle
    is the per-part min over the EUROPE slice of partsupp."""
    # explicit aliases: synth_partsupp's supplier-count scan shares lineage
    # with this supplier join, tripping the ambiguous-self-join check
    ps = synth_partsupp(spark, sf_dir).alias("ps")
    s = load_table(spark, "supplier", sf_dir).alias("s")
    n = load_table(spark, "nation", sf_dir).alias("n")
    r = (
        load_table(spark, "region", sf_dir)
        .filter(F.col("r_name") == "EUROPE")
        .alias("r")
    )
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_size") == 15) & F.col("p_type").like("ECO%")
    )
    eu = (
        ps.join(s, F.col("ps.ps_suppkey") == F.col("s.s_suppkey"))
        .join(F.broadcast(n), F.col("s.s_nationkey") == F.col("n.n_nationkey"))
        .join(F.broadcast(r), F.col("n.n_regionkey") == F.col("r.r_regionkey"))
        .select("ps_partkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    mc = (
        eu.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost").alias("min_cost"))
        .withColumnRenamed("ps_partkey", "mc_partkey")
    )
    return (
        p.join(eu, p.p_partkey == eu.ps_partkey)
        .join(
            F.broadcast(mc),
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("ps_supplycost").alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus supply cost) per nation and
    order year for 'red%' parts — the 6-way join. part filter prunes the
    lineitem side early (broadcast under AQE at small SF, shuffle join at
    scale); partsupp joins on the composite (partkey, suppkey) key;
    nation broadcast onto the supplier side."""
    # aliases break the synth_partsupp/supplier lineage ambiguity (see q2)
    ps = synth_partsupp(spark, sf_dir).alias("ps")
    li = load_table(spark, "lineitem", sf_dir).alias("li")
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("red%"))
    s = load_table(spark, "supplier", sf_dir).alias("s")
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir).alias("n")
    return (
        li.join(p, F.col("li.l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("li.l_partkey") == F.col("ps.ps_partkey"))
            & (F.col("li.l_suppkey") == F.col("ps.ps_suppkey")),
        )
        .join(s, F.col("li.l_suppkey") == F.col("s.s_suppkey"))
        .join(o, F.col("li.l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s.s_nationkey") == F.col("n.n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("ps_supplycost") * F.col("l_quantity")
                ),
                2,
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value held by NATION_7
    suppliers, kept where it exceeds 0.1% of the nation's total — scalar
    aggregate broadcast as the HAVING threshold. Values are rounded to
    2dp BEFORE the comparison so Spark and the oracle agree on the
    float boundary (q15 pattern)."""
    ps = synth_partsupp(spark, sf_dir)
    sn = (
        load_table(spark, "supplier", sf_dir)
        .join(
            F.broadcast(
                load_table(spark, "nation", sf_dir).filter(
                    F.col("n_name") == "NATION_7"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    pv = (
        ps.join(sn, ps.ps_suppkey == sn.s_suppkey)
        .groupBy("ps_partkey")
        .agg(
            F.round(
                F.sum(F.col("ps_supplycost") * F.col("ps_availqty")), 2
            ).alias("part_value")
        )
    )
    thr = pv.agg(F.round(F.sum("part_value") * 0.001, 2).alias("thr"))
    return (
        pv.join(F.broadcast(thr), F.col("part_value") > F.col("thr"))
        .select("ps_partkey", "part_value")
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: no s_comment, so 'complaint' suppliers
    are modeled as s_acctbal < 0): distinct supplier count per
    (brand, type, size) for a size IN-list, excluding one brand, a type
    prefix, and the complaint suppliers via NOT IN -> left-anti join.
    count(DISTINCT) shuffles on the grouping key; part dim broadcast."""
    ps = synth_partsupp(spark, sf_dir)
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#5")
        & ~F.col("p_type").like("SMALL%")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    complaints = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(complaints),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: NATION_3 suppliers holding excess stock of
    'blue%' parts — availqty above half the 1997 shipped quantity for
    that exact (part, supplier) pair. The nested correlated subquery
    decorrelates to a grouped lineitem aggregate joined on the composite
    key; l_quantity is integral so the 0.5x comparison is float-exact in
    both engines. Semi-join keeps one row per supplier before the dim
    join."""
    ps = synth_partsupp(spark, sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("blue%"))
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    excess = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey, "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir).filter(
        F.col("n_name") == "NATION_3"
    )
    return (
        s.join(excess, s.s_suppkey == F.col("ps_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_name")
        .orderBy("s_name")
    )
