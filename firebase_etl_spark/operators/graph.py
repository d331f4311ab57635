"""Iterative graph algorithms — the dedup-clustering step.

Pairwise near-dup detection (MinHash/SimHash/cosine) emits edges; turning
edges into *clusters* (one survivor per group) is connected components —
the one genuinely iterative algorithm in a training-data pipeline.

Spark-first design: min-label propagation as a driver-side loop of joins.
Each iteration is one shuffle (edge join + min-agg); ``localCheckpoint``
truncates lineage per iteration so plans don't grow exponentially, and the
loop exits on a converged-count check (``changed == 0``). Iteration count is
bounded by the component diameter — near-dup clusters are shallow (dups of
dups of one original), so a handful of rounds. For web-scale graphs with
long chains, switch to the alternating large-star/small-star formulation
(same join primitives, O(log n) rounds); the loop harness here is the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    check_every: int = 2,
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Label every node with its component's minimum node id.

    ``edges`` is undirected input (each pair once, either order). Returns
    (node, component) — component = min id reachable. Deterministic for any
    edge order.

    Adaptive execution, same decision shape as broadcast-vs-shuffle joins:
    the edge set is OUTPUT-sized (near-dup pairs above a threshold), orders
    of magnitude smaller than the corpus that produced it. At or below
    ``local_edge_threshold`` edges (~32 MB at 2M — the configured broadcast
    threshold's order) the materialized edges collect to the driver for
    union-find with path compression: O(E α(E)) once, versus an iterative
    join loop that costs ~0.5 s/round in scheduling+broadcast overhead
    regardless of data size (measured at sf0.1: 11 rounds of pointer-
    jumped label propagation = ~6 s for an 1840-edge graph). Above the
    threshold, the distributed loop runs:

    - each round is one join+agg job whose shuffles take the session's
      ``spark.sql.shuffle.partitions``, coalesced by AQE; on a
      200-partition local[4] session a forced distributed run on a
      3.5k-edge graph took 7.5 s (median of 5), against 5.0 s when the
      rounds ran at one shuffle partition per 100k edges;
    - a pointer-jumping step per round cuts diameter-bound rounds to
      roughly half (17 -> 11 measured);
    - the converged-count action runs every ``check_every`` rounds.
    """
    # symmetrize with ONE evaluation of the (possibly expensive) edge plan:
    # a union of e with swapped-e would execute the edge subtree twice —
    # Spark does not CSE across union branches — so explode both directions
    # from a single pass instead
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    n_edges = sym.count()  # cheap: sym is checkpointed
    if n_edges <= local_edge_threshold:
        return _cc_local(spark, sym)
    return _cc_loop(sym, max_iter, check_every)


def _cc_local(spark, sym: DataFrame) -> DataFrame:
    """Driver-side union-find over a small (collected) edge list; returns
    the same (node, component=min reachable id) frame as the loop."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in sym.collect():
        u, v = row["u"], row["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # min id wins as representative => same labels as min-propagation
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    rows = [(n, find(n)) for n in parent]
    # keep the node id type the caller gave us (the distributed loop is
    # type-agnostic; the local path must be too — string ids are legal)
    node_type = sym.schema["u"].dataType
    schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("component", node_type, False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _cc_loop(sym: DataFrame, max_iter: int, check_every: int) -> DataFrame:
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for it in range(max_iter):
        # step 1 — neighbor propagation: min over neighbors' current labels
        nbr = (
            sym.join(labels, sym.u == labels.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.col("component").alias("__old"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("__c1"),
        )
        # step 2 — pointer jumping (path doubling): follow my label to ITS
        # label. Neighbor steps alone need diameter rounds (measured 17 on
        # the sf0.1 near-dup chains); doubling cuts that to O(log d).
        par = stepped.select(
            F.col("node").alias("__pn"), F.col("__c1").alias("__pc")
        )
        updated = (
            stepped.join(par, stepped.__c1 == par.__pn, "left")
            .select(
                "node",
                F.least(
                    F.col("__c1"), F.coalesce(F.col("__pc"), F.col("__c1"))
                ).alias("component"),
                (
                    F.least(F.col("__c1"), F.coalesce(F.col("__pc"), F.col("__c1")))
                    < F.col("__old")
                )
                .cast("int")
                .alias("__changed"),
            )
            .localCheckpoint(eager=True)  # truncate lineage each round
        )
        labels = updated.drop("__changed")
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            changed = updated.agg(F.sum("__changed")).collect()[0][0] or 0
            if changed == 0:
                break
    return labels


#: fixed-point scale for integer PageRank (1.0 == 10^12)
PR_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    n_iter: int = 10,
    damping_pct: int = 85,
    checkpoint_every: int = 4,
    local_edge_threshold: int = 2_000_000,
    seeds: list | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, in FIXED-POINT INTEGER
    arithmetic so the result is bit-identical across engines and across
    partitionings (extension beyond the reference; complements the
    connected-components clustering above).

    Ranks are BIGINTs scaled by ``PR_SCALE``; every step is integer
    multiply / truncating-div / sum — integer addition is associative, so
    the usual float-PageRank nondeterminism (partial-sum order varying
    with partitioning) cannot occur, the same trick as the fixed-point
    weights in documents_temperature_mixture. With all values positive,
    Spark's ``div`` and DuckDB's ``//`` agree (truncation == floor).

    Per iteration (the Pregel pattern as two keyed one-shuffle jobs):
        contrib_uv = rank_u * w_uv div W_u        (edge join on src)
        rank_v'    = teleport + 85% * sum(contrib) (agg on dst + node join)
    Above ``local_edge_threshold`` those shuffles take the session's
    ``spark.sql.shuffle.partitions``, coalesced by AQE: on a 200-partition
    local[4] session a forced distributed run on a 3.5k-edge graph took
    5.9 s (median of 5), against 4.5 s at one partition per 100k edges.
    Dangling nodes (no out-edges) contribute nothing — the standard
    mass-leak formulation; ranks are a fixed point, not a distribution.
    Overflow headroom: rank_u * w_uv <= PR_SCALE * total_edge_weight must
    stay under 2^63 — for heavier graphs, pre-normalize weights or move
    the same plan to DECIMAL(38,0).

    ``seeds`` switches to PERSONALIZED PageRank (topic-sensitive;
    Haveliwala 2002): the teleport mass lands only on the seed nodes
    (PR_SCALE/len(seeds) each, damped), so ranks measure weighted-walk
    proximity TO THE SEEDS — the graph-recommendation primitive. Ranks
    still initialize uniformly (part of the fixed-round spec); the
    arithmetic stays all-integer, so the personalized trajectory is as
    engine-exact as the uniform one.

    Returns (node, rank_e12) with rank_e12 = rank * 10^12 as BIGINT.
    """
    # checkpoint the aggregated edge list BEFORE deriving w_out: the
    # out-weight join is a self-join on e, and Spark does not CSE the two
    # occurrences — without the checkpoint the (expensive, fact-sized)
    # edge aggregation executes twice (measured 1.8 s vs 0.8 s at sf0.1)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    ).localCheckpoint(eager=True)
    spark = edges.sparkSession
    n_edges = e.count()  # cheap: checkpointed
    if n_edges <= local_edge_threshold:
        # the AGGREGATED graph is output-sized (one row per node pair) —
        # same adaptive decision as connected_components above: below the
        # broadcast-order threshold, 10 join-loop rounds are pure
        # scheduling overhead (~0.2 s/job; measured 1.7 s vs ~0 ms for
        # the 625-edge nation graph), so collect the graph and run the
        # identical integer recurrence driver-side (node set derived from
        # the collected edges — no extra distinct/count jobs). Arithmetic
        # is exactly the distributed loop's (pinned by tests), so the
        # adaptive switch is invisible in the output.
        return _pr_local(spark, e, n_iter, damping_pct, seeds)
    out_tot = e.groupBy("src").agg(F.sum("w").alias("w_out"))
    e = e.join(out_tot, "src").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            F.col("node"), F.lit(None).cast("long").alias("rank_e12")
        )
    if seeds:
        t_seed = (PR_SCALE // len(seeds)) * (100 - damping_pct) // 100
        tele_col = (
            F.when(F.col("node").isin(list(seeds)), F.lit(t_seed))
            .otherwise(F.lit(0))
            .cast("long")
        )
    else:
        teleport = (PR_SCALE // n) * (100 - damping_pct) // 100
        tele_col = F.lit(teleport).cast("long")
    ranks = nodes.withColumn("rank", F.lit(PR_SCALE // n).cast("long"))
    for it in range(n_iter):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst"),
                F.expr("rank * w div w_out").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                tele_col
                + F.expr(f"{damping_pct} * coalesce(incoming, 0L) div 100")
            ).alias("rank"),
        )
        if (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("rank").alias("rank_e12"))


def _pr_local(spark, e: DataFrame, n_iter, damping_pct, seeds=None) -> DataFrame:
    """Driver-side twin of the distributed rank loop — identical integer
    recurrence over the collected aggregated graph (w_out derived here,
    not as a distributed self-join)."""
    raw = [(r["src"], r["dst"], r["w"]) for r in e.collect()]
    w_out_map: dict = {}
    for u, _, w in raw:
        w_out_map[u] = w_out_map.get(u, 0) + w
    edges_py = [(u, v, w, w_out_map[u]) for u, v, w in raw]
    node_ids = sorted({u for u, _, _, _ in edges_py} | {v for _, v, _, _ in edges_py})
    n = len(node_ids)
    if n == 0:
        return e.select(
            F.col("src").alias("node"), F.lit(None).cast("long").alias("rank_e12")
        )
    if seeds:
        t_seed = (PR_SCALE // len(seeds)) * (100 - damping_pct) // 100
        seed_set = set(seeds)
        tele = {v: (t_seed if v in seed_set else 0) for v in node_ids}
    else:
        teleport = (PR_SCALE // n) * (100 - damping_pct) // 100
        tele = dict.fromkeys(node_ids, teleport)
    r = {v: PR_SCALE // n for v in node_ids}
    for _ in range(n_iter):
        inc = dict.fromkeys(node_ids, 0)
        for u, v, w, w_out in edges_py:
            inc[v] += r[u] * w // w_out
        r = {v: tele[v] + damping_pct * inc[v] // 100 for v in node_ids}
    node_type = e.schema["src"].dataType
    schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("rank_e12", LongType(), False),
        ]
    )
    return spark.createDataFrame(sorted(r.items()), schema)


def dedup_clusters(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster summary over a near-dup edge set: one row per component with
    its representative (min id = the survivor) and member count. Singleton
    docs (no edges) are not rows here — they are their own survivors."""
    cc = connected_components(edges, src, dst)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(
            F.col("component").alias("representative"),
            "n_members",
        )
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """One-row triangle census of an undirected graph: (n_nodes, n_edges,
    n_wedges, n_triangles, clustering) with clustering the global
    coefficient 3*triangles / wedges (0.0 on a wedge-free graph).

    Degree-ordered orientation (the standard O(m^1.5) node-iterator
    bound, e.g. Suri & Vassilvitskii 2011's MapReduce formulation): each
    edge points from its (degree, id)-smaller endpoint to the larger, so
    every wedge is generated at its LOWEST-degree vertex — per-key
    fanout is bounded by ~sqrt(m) regardless of hub skew, which is what
    makes the self-join survive a power-law degree distribution at
    100 TB. The closing-edge check is one hash join against the
    canonical edge set; every aggregate is an integer count (wedges from
    d*(d-1)/2 — exact, the product of consecutive integers is even), so
    the row is engine- and partitioning-invariant.

    Self-loops are dropped; edges deduplicate regardless of input
    orientation."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("p1"),
            F.greatest(F.col(src), F.col(dst)).alias("p2"),
        )
        .filter(F.col("p1") < F.col("p2"))
        .distinct()
        .persist()
    )
    try:
        deg = (
            e.select(F.col("p1").alias("n"))
            .unionAll(e.select(F.col("p2").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        d1 = deg.select(F.col("n").alias("p1"), F.col("d").alias("da"))
        d2 = deg.select(F.col("n").alias("p2"), F.col("d").alias("db"))
        lower_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("p1") < F.col("p2"))
        )
        o = (
            e.join(d1, "p1")
            .join(d2, "p2")
            .select(
                F.when(lower_first, F.col("p1")).otherwise(F.col("p2")).alias("u"),
                F.when(lower_first, F.col("p2")).otherwise(F.col("p1")).alias("v"),
            )
        )
        w = (
            o.alias("x")
            .join(o.alias("y"), (F.col("x.u") == F.col("y.u")) & (F.col("x.v") < F.col("y.v")))
            .select(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
        )
        tri = w.join(
            e,
            (F.least(F.col("a"), F.col("b")) == F.col("p1"))
            & (F.greatest(F.col("a"), F.col("b")) == F.col("p2")),
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("n_triangles"))
        # sum d*(d-1) as pure BIGINT, halve with a shift — the double
        # route loses exactness past 2^53, which hub degrees can reach
        nodes = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(  # empty graph: sum is NULL, report 0 wedges
                F.shiftright(
                    F.sum(F.col("d") * (F.col("d") - F.lit(1))), 1
                ),
                F.lit(0).cast("long"),
            ).alias("n_wedges"),
        )
        n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
        return (
            nodes.crossJoin(F.broadcast(n_edges))
            .crossJoin(F.broadcast(tri))
            .select(
                "n_nodes",
                "n_edges",
                "n_wedges",
                "n_triangles",
                F.when(
                    F.col("n_wedges") > 0,
                    F.round(
                        3 * F.col("n_triangles") / F.col("n_wedges"), 4
                    ),
                )
                .otherwise(F.lit(0.0))
                .alias("clustering"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        e.unpersist()


def label_propagation(
    edges: DataFrame,
    src: str = "p1",
    dst: str = "p2",
    n_iter: int = 5,
    checkpoint_every: int = 2,
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, arXiv:0709.2938) made fully deterministic: every vertex
    starts labeled with its own id and, for exactly ``n_iter`` rounds,
    simultaneously adopts the label most frequent among its NEIGHBORS,
    ties broken by the smallest label. Classic LPA randomizes update
    order and tie-breaks (and synchronous variants can oscillate on
    bipartite structures) — the fixed round count plus the (count desc,
    label asc) tie-break makes the trajectory a pure function of the
    edge set, bit-identical across engines and partitionings: every
    quantity is an integer and the per-vertex election is one
    ``min(struct(-count, label))`` — a commutative, associative
    aggregate. Complements connected_components (communities are finer:
    CC merges anything touching, LPA respects density boundaries).

    Per round (the Pregel shape, two keyed shuffles): neighbor labels
    attach by one equi-join on the symmetrized edge list, then the
    election is a map-side-combinable min-struct per vertex.
    ``localCheckpoint`` every ``checkpoint_every`` rounds truncates the
    iterative lineage. Below ``local_edge_threshold`` symmetrized edges
    the identical recurrence runs driver-side (the adaptive cutover of
    connected_components/pagerank — round-scheduling overhead dominates
    tiny graphs); equality of the two paths is pytest-pinned.

    Expects a deduplicated undirected edge list (one row per pair, as
    ``basket.cooccurrence_edges`` emits); multi-edges would weight the
    vote. Returns (node, community)."""
    sym = (
        edges.select(F.col(src).alias("nbr"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("nbr"), F.col(src).alias("v")))
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    if sym.count() <= local_edge_threshold:
        return _lpa_local(spark, sym, n_iter)
    labels = sym.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for it in range(n_iter):
        votes = (
            sym.join(labels, sym.nbr == labels.node)
            .groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("v")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col("label").alias("l"),
                    )
                ).alias("best")
            )
        )
        labels = votes.select(
            F.col("v").alias("node"), F.col("best.l").alias("label")
        )
        if (it + 1) % checkpoint_every == 0:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("node", F.col("label").alias("community"))


def _lpa_local(spark, sym: DataFrame, n_iter: int) -> DataFrame:
    """Driver-side twin of the distributed vote loop — identical integer
    election over the collected symmetrized edges."""
    from collections import Counter

    rows = [(r["nbr"], r["v"]) for r in sym.collect()]
    labels = {n: n for pair in rows for n in pair}
    for _ in range(n_iter):
        votes: dict = {}
        for nbr, v in rows:
            votes.setdefault(v, Counter())[labels[nbr]] += 1
        labels = {
            v: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for v, c in votes.items()
        }
    node_type = sym.schema["v"].dataType
    schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("community", node_type, False),
        ]
    )
    return spark.createDataFrame(sorted(labels.items()), schema)


def kcore_summary(
    edges: DataFrame,
    src: str = "p1",
    dst: str = "p2",
    ks: tuple = (2, 3, 4),
    max_iter: int = 60,
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """k-core decomposition summary: for each k, the maximal subgraph
    where every vertex keeps degree >= k (Seidman 1983) — the density
    skeleton that separates structurally-embedded nodes from tendrils,
    and the standard prefilter before expensive community/embedding work
    on web-scale graphs. One row per k: (k, n_core_nodes, n_core_edges,
    converged).

    The prune loop (drop sub-k-degree vertices, repeat to fixpoint) runs
    ascending k and starts each core from the PREVIOUS core's edges —
    sound because the (k+1)-core is a subgraph of the k-core — so the
    fact-sized edge set is pruned once, not per k. Per round: one degree
    aggregate + two semi-joins, lineage checkpointed; the convergence
    test is the repo's standard driver-side count check (CC's
    ``changed == 0`` pattern). All quantities are integers; the result
    is a pure function of the edge set. ``converged`` reports that the
    fixpoint was reached within ``max_iter`` — the DuckDB oracle unrolls
    a fixed round budget and replays TRUE, so a graph that somehow
    needed more rounds than the oracle's budget fails the driver gate
    loudly instead of silently diverging.

    Expects a deduplicated undirected edge list (one row per pair).
    Below ``local_edge_threshold`` edges the identical integer prune runs
    driver-side (the CC/pagerank/LPA adaptive cutover: ~20 fixpoint
    rounds of cluster scheduling dwarf a small graph's actual work —
    measured 17.5 s distributed vs sub-second local on the 3k-edge gate
    graph); path parity is pytest-pinned."""
    spark = edges.sparkSession
    cur = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    if cur.count() <= local_edge_threshold:
        return _kcore_local(spark, cur, ks, max_iter)
    out = []
    for k in sorted(ks):
        prev = cur.count()
        converged = False
        for _ in range(max_iter):
            deg = (
                cur.select(F.col("a").alias("n"))
                .union(cur.select(F.col("b").alias("n")))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            keep = deg.filter(F.col("d") >= k).select("n")
            cur = (
                cur.join(
                    keep.withColumnRenamed("n", "a"), "a", "left_semi"
                ).join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            ).localCheckpoint(eager=True)
            cnt = cur.count()
            if cnt == prev:
                converged = True
                break
            prev = cnt
        n_nodes = (
            cur.select(F.col("a").alias("n"))
            .union(cur.select(F.col("b").alias("n")))
            .distinct()
            .count()
        )
        out.append((int(k), n_nodes, prev, converged))
    return spark.createDataFrame(
        out, "k int, n_core_nodes long, n_core_edges long, converged boolean"
    )


def _kcore_local(spark, cur: DataFrame, ks, max_iter: int) -> DataFrame:
    """Driver-side twin of the distributed prune loop — identical
    integer recurrence over the collected edge list."""
    from collections import Counter

    edges_py = [(r["a"], r["b"]) for r in cur.collect()]
    out = []
    for k in sorted(ks):
        converged = False
        for _ in range(max_iter):
            deg = Counter()
            for a, b in edges_py:
                deg[a] += 1
                deg[b] += 1
            nxt = [(a, b) for a, b in edges_py if deg[a] >= k and deg[b] >= k]
            if len(nxt) == len(edges_py):
                converged = True
                break
            edges_py = nxt
        nodes = {n for pair in edges_py for n in pair}
        out.append((int(k), len(nodes), len(edges_py), converged))
    return spark.createDataFrame(
        out, "k int, n_core_nodes long, n_core_edges long, converged boolean"
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    n_iter: int = 8,
    checkpoint_every: int = 2,
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Weighted HITS (Kleinberg 1999) in fixed-point integer arithmetic:
    authority(v) = sum of incoming hub*weight, hub(u) = sum of outgoing
    authority*weight, each L1-renormalized per round — completing the
    link-analysis trio next to (personalized) PageRank. On a trade
    graph hubs are the big buyers, authorities the big suppliers; the
    two sides need not coincide (PageRank conflates them).

    Determinism: the renormalization is ``raw div (tot div SCALE, min
    1)`` — divisor-first so every intermediate stays inside int64 on
    BOTH engines (raw * SCALE would need int128, which DuckDB's HUGEINT
    sums would silently provide and Spark's longs would not — the
    asymmetry this formulation avoids). All sums are integer and
    associative; fixed ``n_iter`` rounds. Overflow headroom: like
    pagerank, SCALE * total_edge_weight must stay under 2^63 — heavier
    graphs pre-normalize weights.

    Returns (node, hub_e12, auth_e12); scores sum to ~PR_SCALE per
    side. Below ``local_edge_threshold`` edges the identical recurrence
    runs driver-side (parity pytest-pinned)."""
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"),
        F.col(weight).alias("w"),
    ).localCheckpoint(eager=True)
    spark = edges.sparkSession
    n_edges = e.count()
    if n_edges <= local_edge_threshold:
        return _hits_local(spark, e, n_iter)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    h = nodes.withColumn("s", F.lit(PR_SCALE // n).cast("long"))
    a = nodes.withColumn("s", F.lit(0).cast("long"))

    def _step(scores, key_join, key_group):
        raw = (
            e.join(scores, e[key_join] == scores.node)
            .select(F.col(key_group).alias("node"), F.expr("s * w").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("raw"))
        )
        tot = raw.agg(
            F.greatest(
                F.expr(f"sum(raw) div {PR_SCALE}"), F.lit(1)
            ).alias("t")
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.expr("coalesce(raw, 0L) div t").alias("s"),
            )
        )

    for it in range(n_iter):
        a = _step(h, "src", "dst")
        h = _step(a, "dst", "src")
        if (it + 1) % checkpoint_every == 0:
            a = a.localCheckpoint(eager=True)
            h = h.localCheckpoint(eager=True)
    return (
        h.select("node", F.col("s").alias("hub_e12"))
        .join(a.select("node", F.col("s").alias("auth_e12")), "node")
    )


def _hits_local(spark, e: DataFrame, n_iter: int) -> DataFrame:
    """Driver-side twin of the distributed HITS loop — identical integer
    recurrence (divisor-first renormalization)."""
    rows = [(r["src"], r["dst"], r["w"]) for r in e.collect()]
    node_ids = sorted({u for u, _, _ in rows} | {v for _, v, _ in rows})
    n = len(node_ids)
    if n == 0:
        return spark.createDataFrame(
            [], "node long, hub_e12 long, auth_e12 long"
        )
    h = dict.fromkeys(node_ids, PR_SCALE // n)
    a = dict.fromkeys(node_ids, 0)

    def _norm(raw):
        t = max(sum(raw.values()) // PR_SCALE, 1)
        return {v: raw.get(v, 0) // t for v in node_ids}

    for _ in range(n_iter):
        ar: dict = {}
        for u, v, w in rows:
            ar[v] = ar.get(v, 0) + h[u] * w
        a = _norm(ar)
        hr: dict = {}
        for u, v, w in rows:
            hr[u] = hr.get(u, 0) + a[v] * w
        h = _norm(hr)
    node_type = e.schema["src"].dataType
    schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("hub_e12", LongType(), False),
            StructField("auth_e12", LongType(), False),
        ]
    )
    return spark.createDataFrame(
        [(v, h[v], a[v]) for v in node_ids], schema
    )


#: a labels table of at most this many rows is broadcast into the
#: modularity audit's joins (~24 MB as a hash relation of two longs a row)
BROADCAST_LABEL_ROWS = 1_000_000


def modularity_report(
    edges: DataFrame,
    src: str = "p1",
    dst: str = "p2",
    n_iter: int = 5,
    top: int = 10,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Newman modularity audit of the label_propagation partition
    (Newman & Girvan 2004): Q = sum_c [ m_c/m - (d_c/2m)^2 ] — did the
    community detector find real density structure (Q >> 0) or noise
    (Q ~ 0)? The acceptance gate a pipeline runs before trusting
    community ids for feature engineering or dedup blocking.

    All-integer: per community the contribution NUMERATOR
    4*m*m_c - d_c^2 (exact int64 while m < ~1.5e9 edges) and the global
    Q as sign * (|sum| * 1e6 DIV 4m^2) — sign-split so Spark's
    truncating DIV equals DuckDB's flooring // (exact while
    m <= ~1e6 edges; past that an exact e6 global needs int128 or a
    per-community e6 sum — documented, not silent: the gate graphs are
    ~1e4 edges and a 100 TB co-purchase graph prunes by min support
    long before 1e6 surviving edges).

    Scale shape: the LPA rounds dominate (n_iter keyed shuffles); the
    audit itself is two equi-joins onto the edge list + one degree
    aggregate + a single-row totals crossJoin. Returns the ``top``
    largest communities (ties: lower community id) with the global
    m_edges / q_num / modularity_e6 repeated on every row, kcenter-
    style, so the hashed driver row pins the global statistic.

    Pass ``labels`` (node, community) to audit an EXTERNAL partition
    (a k-means cell map, a blocking scheme) instead of running LPA."""
    if labels is None:
        labels = label_propagation(edges, src, dst, n_iter=n_iter)
    # both inputs are re-referenced 3x below; without an eager cut each
    # reference RE-INLINES its full lineage (the co-occurrence self-join
    # and all n_iter LPA rounds — PLAN_AUDIT measured lineitem x32 /
    # 150 exchanges before this). Both tables are edge/node-sized.
    edges = edges.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)
    # size the audit's shuffles from the graph, not the session default:
    # the tail is a few aggregates over edge/community-sized tables, and a
    # 200-partition virgin session writes 200 buckets per map task for them
    n_parts = edges.count() // 100_000 + 1  # cheap: checkpointed
    # the planner sizes the labels checkpoint from the LPA plan's estimate,
    # far above the broadcast threshold, so it shuffles both join sides
    # before AQE sees the real size; broadcast by the real row count
    # instead (the sf0.1 tail: 1.2 s with, 1.6-1.9 s without, on a
    # 200-partition local[4] session)
    broadcast = labels.count() <= BROADCAST_LABEL_ROWS
    return _modularity_tail(edges, labels, src, dst, top, n_parts, broadcast)


def _modularity_tail(
    edges: DataFrame,
    labels: DataFrame,
    src: str,
    dst: str,
    top: int,
    n_parts: int,
    broadcast: bool,
) -> DataFrame:
    # Each aggregate reads an explicit repartition(n_parts, key): AQE does
    # not coalesce a numbered repartition, and the groupBy reuses its
    # exchange. With ``broadcast`` the labels and the community-sized intra
    # counts are broadcast into the joins; otherwise the joins shuffle at
    # the session's partition count, coalesced by AQE.
    hint = F.broadcast if broadcast else (lambda df: df)
    labels = hint(labels)
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    la = labels.select(
        F.col("node").alias("a"), F.col("community").alias("ca")
    )
    lb = labels.select(
        F.col("node").alias("b"), F.col("community").alias("cb")
    )
    e2 = e.join(la, "a").join(lb, "b")
    intra = (
        e2.filter(F.col("ca") == F.col("cb"))
        .repartition(n_parts, "ca")
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .repartition(n_parts, "node")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    comm = (
        deg.join(labels, "node")
        .repartition(n_parts, "community")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
        .join(hint(intra), "community", "left")
        .withColumn(
            "intra_edges",
            F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long"),
        )
    )
    m_tot = e.agg(F.count(F.lit(1)).cast("long").alias("m_edges"))
    per = (
        comm.crossJoin(F.broadcast(m_tot))
        .withColumn(
            "contrib_num",
            (
                F.lit(4) * F.col("m_edges") * F.col("intra_edges")
                - F.col("degree_sum") * F.col("degree_sum")
            ).cast("long"),
        )
        # community-count-sized, TWO consumers (the global q_num sum and
        # the final per-community select): without the cut both re-inline
        # the whole intra/degree join chain (PLAN_AUDIT: 38 exchanges,
        # SMJ×16 → expect roughly half)
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("contrib_num").cast("long").alias("q_num"),
        F.max("m_edges").alias("m2"),
    ).select(
        "q_num",
        F.expr(
            "CASE WHEN q_num >= 0 THEN (q_num * 1000000)"
            " DIV (4 * m2 * m2)"
            " ELSE -((-q_num * 1000000) DIV (4 * m2 * m2)) END"
        ).cast("long").alias("modularity_e6"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "community", "n_members", "intra_edges", "degree_sum",
            "contrib_num", "m_edges", "q_num", "modularity_e6",
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(top)
    )
