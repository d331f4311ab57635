"""BM25 lexical retrieval over a document corpus (extension beyond the
reference — the sparse-retrieval half of a training-data curation stack,
next to the dense ANN operators in similarity.py; Robertson & Zaragoza
2009, "The Probabilistic Relevance Framework: BM25 and Beyond").

The whole scorer is relational — one token explode feeding three
aggregates and one broadcast-pruned scoring join:

    tf      = term frequency per (doc, term)       [one corpus shuffle]
    df      = document frequency per term          [term-keyed agg of tf]
    N, avgdl = corpus scalars                      [one tiny agg]
    score(q, d) = sum over shared terms of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))  [Lucene's BM25 idf;
                                                    always >= 0]

Scale shape: the probe-query term set is tiny and broadcast, and a
broadcast SEMI join drops every non-query-term token BEFORE the one
corpus-wide exchange — the full corpus is tokenized exactly once and
only matched postings ever shuffle. df then comes from a term-keyed
window over the already-filtered postings (a linear chain; a
groupBy+join-back would recompute the explode — column pruning makes
the two exchanges differ, so ReusedExchange never fires). Document
length rides through the tf groupBy as a grouping key (constant per
doc), so no per-doc join is needed. Corpus scalars (N, avgdl) are one
sizes-only aggregate that never explodes.

MEASURED caveat (sf0.1, min-of-3): the
pruned plan TIES the naive three-consumer formulation on the gate
fixture (1.08x at 5 probes, 1.00x at 64) — because this synthetic
corpus has a 31-token vocabulary and the probes cover 30 of it, the
semi join keeps 99.9% of tokens (measured), i.e. the prune is
structurally a no-op HERE. The pruned shape is kept because its win is
selectivity-times-scale: on a real corpus (vocabulary in the millions,
query terms in the hundreds) the semi join turns the only corpus-wide
exchange from all postings into a sliver, while costing one broadcast
build when selectivity saturates.

DETERMINISM: per-(query, doc, term) contributions are doubles built
from exact integers and two literal scalars, rounded ONCE to a
1e-6-unit BIGINT, and per-pair scores are integer sums of those —
associative, so bit-identical across partitionings and engines (the
dsir.py / segment_priority_chisq fixed-point pattern). BM25
contributions are strictly positive, so the +1e-9 nudge never
straddles zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from firebase_etl_spark.functions.portable_math import with_ln
from firebase_etl_spark.operators.text import tokenize


def bm25_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks_df: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` BM25 matches per probe document: (query_id, doc_id,
    n_terms, score, rank). Probe queries are the DISTINCT term sets of
    the ``query_ids`` documents (query-side term frequency ignored — the
    standard short-query convention, applied uniformly); a document
    never matches itself. ``score`` is the display double of the exact
    fixed-point BIGINT sum; rank ties break to the lower doc id.

    ``toks_df`` (optional): a pre-tokenized ``(doc_id, toks)`` frame —
    pass a persisted one when a caller (retrieval_eval) also needs the
    tokens, so the corpus is tokenized once instead of per consumer."""
    base = (
        toks_df
        if toks_df is not None
        else df.select(
            F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
        )
    )
    toks = base.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    )
    # corpus scalars in ONE aggregation job (no corpus explode — sizes
    # only; the text column never leaves the scan projection); exact
    # BIGINTs divided once, the same IEEE double division the oracle does
    tot = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("toks")).alias("tdl")
    ).collect()[0]
    n_docs = int(tot["n"])
    avgdl = F.lit(int(tot["tdl"] or 0) / n_docs) if n_docs else F.lit(1.0)

    # probe term sets: the isin filter pushes to the scan, so this branch
    # explodes only the probe docs — tiny, broadcast
    qt = (
        toks.filter(F.col("doc_id").isin(query_ids))
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )

    # THE one corpus explode: a broadcast semi join on the probe term set
    # drops every non-query-term token BEFORE the tf shuffle, so the only
    # corpus-wide exchange carries just the matched postings. dl rides
    # the groupBy as a key (constant per doc) — no per-doc length join.
    tf = (
        toks.join(
            F.broadcast(qt.select("term").distinct()), "term", "semi"
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # eager cut: the postings feed BOTH the term-level df/idf table
        # and the scoring join; without it either consumer re-runs the
        # corpus explode, and the old one-consumer answer (a
        # term-partitioned count WINDOW) both re-shuffled and re-sorted
        # every posting AND left the idf ln chains evaluated per
        # POSTING. Postings are already query-term-pruned, so the
        # materialization is the sliver the semi join keeps.
        .localCheckpoint(eager=True)
    )
    # df (docs containing the term) per TERM — a vocabulary-sized
    # aggregate — and the Robertson-Sparck-Jones idf
    # ln(1 + (N - df + 0.5)/(df + 0.5)) = ln(2N + 2) - ln(2df + 1) as
    # two integer-argument PORTABLE libm-free lns
    # (functions/portable_math.py) evaluated ONCE PER TERM (measured
    # ~2.1s per run at sf0.1 when they ran per posting), so both
    # engines quantize the identical double (DSIR-class hardening).
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    df_tbl = with_ln(df_tbl, str(2 * n_docs + 2), "__lnidfn")
    df_tbl = with_ln(df_tbl, "(2 * df + 1)", "__lnidfd")
    idf = F.col("__lnidfn") - F.col("__lnidfd")
    tfc = (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    # per-posting contribution BEFORE the probe join: c_e6 depends only
    # on the posting, so computing it above the join evaluates it once
    # per posting instead of once per (probe, posting) pair — same
    # expression tree, same IEEE order, identical replicated values
    contrib = tf.join(F.broadcast(df_tbl), "term").select(
        "doc_id",
        "term",
        F.round(idf * tfc * 1000000.0 + 1e-9, 0)
        .cast("long")
        .alias("c_e6"),
    )
    scored = (
        contrib.join(F.broadcast(qt), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", "c_e6")
    )
    pair = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("c_e6").alias("score_e6"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e6"), "doc_id")
    return (
        pair.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "n_terms",
            (F.col("score_e6") / 1000000.0).alias("score"),
            "rank",
        )
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    k_cand: int = 20,
    k_rrf: int = 60,
) -> DataFrame:
    """Hybrid sparse+dense retrieval via Reciprocal Rank Fusion
    (Cormack, Clarke & Buettcher 2009): fuse the BM25 top-``k_cand``
    and the exact-cosine top-``k_cand`` per probe with

        rrf(q, d) = sum over rankings of 1 / (k_rrf + rank(q, d))

    missing-from-one-ranking docs contribute only their present term
    (the standard convention). The corpus links the two modalities by
    id: ``doc_id`` in ``docs`` and ``vec_id`` in ``embeddings`` name the
    same item (the testdata fixture's shared id space).

    DETERMINISM: each fused score is ONE fixed-order expression over two
    integer ranks — 1/(k_rrf+r) is the identical IEEE division on every
    engine and no float is ever aggregated, so no fixed-point machinery
    is needed. Ties break to the lower doc id.

    Scale shape: both candidate generators are bounded at k_cand rows
    per probe, so the fusion join, window, and output are all
    (n_probes x k_cand)-sized — driver-scale, never corpus-scale; the
    corpus-scale work lives inside the two generators (see bm25_topk and
    cosine_topk docstrings)."""
    from firebase_etl_spark.operators.similarity import cosine_topk

    sparse = bm25_topk(docs, query_ids, k=k_cand).select(
        "query_id", "doc_id", F.col("rank").alias("sparse_rank")
    )
    dense = cosine_topk(embeddings, query_ids, k=k_cand).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("dense_rank"),
    )
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "sparse_rank",
        "dense_rank",
        F.round(
            F.coalesce(
                1.0 / (F.lit(k_rrf) + F.col("sparse_rank")), F.lit(0.0)
            )
            + F.coalesce(
                1.0 / (F.lit(k_rrf) + F.col("dense_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


#: nDCG position discounts, 1e6-unit integers: W[r] = round(1e6 /
#: log2(r + 1)) for rank r = 1..10, HARDCODED (never recomputed via
#: libm at runtime) so both engines consume byte-identical literals.
NDCG_W_E6 = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
#: prefix sums of NDCG_W_E6 (P[0] = 0 .. P[10]) — the ideal-DCG lookup
NDCG_P_E6 = [
    0, 1000000, 1630930, 2130930, 2561607, 2948460,
    3304667, 3638000, 3953465, 4254495, 4543560,
]
#: graded-gain table: gain(rel) = 2^rel - 1
NDCG_GAIN = [0, 1, 3, 7, 15]


def _rel_case(j_col: str) -> str:
    """Graded relevance from the exact 6dp token-set Jaccard — the
    deterministic ground-truth labeling both engines share."""
    return (
        f"CASE WHEN {j_col} >= 0.75 THEN 4"
        f" WHEN {j_col} >= 0.5 THEN 3"
        f" WHEN {j_col} >= 0.25 THEN 2"
        f" WHEN {j_col} >= 0.1 THEN 1 ELSE 0 END"
    )


def retrieval_eval(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """IR-quality read-out for the BM25 retriever: nDCG@k, MRR and
    recall@k per probe query against a DETERMINISTIC graded ground
    truth (token-set Jaccard vs the probe: rel 4 at j >= 0.75 down to
    rel 0 below 0.1; binary-relevant = rel >= 2) — the eval harness a
    retrieval pipeline runs before anyone trusts its ranking. Output
    one row per query: (query_id, n_relevant, n_found_rel, mrr_rank,
    mrr_e6, dcg_e6, idcg_e6, ndcg_e4, recall_e4) — integers only.

    Determinism: position discounts are the HARDCODED integer table
    NDCG_W_E6 (no runtime log2); gains are 2^rel - 1; every metric is
    an integer sum/division mirrored verbatim in the oracle.

    Scale shape: relevance labels come from ONE corpus pass against
    the broadcast probe set (|probes| × corpus rows, linear); the
    ideal DCG needs only the per-grade COUNTS (25 rows), never a
    corpus-wide sort — IDCG is reconstructed from prefix sums of the
    discount table over the grade histogram."""
    # ONE corpus tokenization, persisted: the relevance-truth side
    # (token sets), the probe term sets, and the BM25 postings all
    # derive from it — before this the nested bm25_topk and the truth
    # side each re-tokenized the corpus (documents×4, VERDICT r8 #3)
    tokenized = df.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
    ).persist()
    toks = tokenized.select(
        F.col("doc_id").alias(id_col),
        F.array_sort(F.array_distinct("toks")).alias("toks"),
    )
    probes = toks.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("toks").alias("q_toks")
    )
    jac_expr = F.round(
        F.size(F.array_intersect("toks", "q_toks"))
        / F.size(F.array_union("toks", "q_toks")),
        6,
    )
    rel = (
        toks.crossJoin(F.broadcast(probes))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("__j", jac_expr)
        .select(
            "query_id",
            F.col(id_col).alias("doc_id"),
            F.expr(_rel_case("__j")).cast("int").alias("rel"),
        )
        .localCheckpoint(eager=True)  # probe-count × corpus; 3 consumers
    )
    run = bm25_topk(
        df, query_ids, k, text_col=text_col, id_col=id_col,
        toks_df=tokenized,
    )
    hits = run.select("query_id", "doc_id", "rank").join(
        rel, ["query_id", "doc_id"]
    )
    gain_case = (
        "CASE rel WHEN 4 THEN 15 WHEN 3 THEN 7 WHEN 2 THEN 3"
        " WHEN 1 THEN 1 ELSE 0 END"
    )
    w_case = "CASE rank " + " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(NDCG_W_E6)
    ) + " ELSE 0 END"
    per_run = hits.groupBy("query_id").agg(
        F.sum(F.expr(f"({gain_case}) * ({w_case})")).alias("dcg_e6"),
        F.min(
            F.when(F.col("rel") >= 2, F.col("rank"))
        ).alias("__first_rel"),
        F.sum((F.col("rel") >= 2).cast("long")).alias("n_found_rel"),
    )
    # ideal DCG from the grade histogram: grade g docs occupy ranks
    # hi(g)+1 .. min(k, hi(g)+c(g)) in the ideal ranking (hi = docs of
    # strictly higher grade); sum of discounts via the prefix table
    p_case_tpl = "CASE WHEN {x} >= 10 THEN 4543560 " + " ".join(
        f"WHEN {{x}} = {i} THEN {p}" for i, p in enumerate(NDCG_P_E6[:10])
    ) + " END"
    hist = rel.filter(F.col("rel") > 0).groupBy("query_id", "rel").agg(
        F.count(F.lit(1)).alias("c")
    )
    hist = hist.withColumn(
        "hi",
        F.coalesce(
            F.sum("c").over(
                Window.partitionBy("query_id")
                .orderBy(F.desc("rel"))
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    ideal = (
        hist.withColumn(
            "contrib",
            F.expr(
                "(CASE rel WHEN 4 THEN 15 WHEN 3 THEN 7 WHEN 2 THEN 3"
                " WHEN 1 THEN 1 ELSE 0 END) * ("
                + p_case_tpl.format(x="least(hi + c, 10)")
                + " - "
                + p_case_tpl.format(x="least(hi, 10)")
                + ")"
            ),
        )
        .groupBy("query_id")
        .agg(F.sum("contrib").alias("idcg_e6"))
    )
    n_rel = rel.filter(F.col("rel") >= 2).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    base = probes.select("query_id")
    out = (
        base.join(n_rel, "query_id", "left")
        .join(ideal, "query_id", "left")
        .join(per_run, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0))
            .cast("long")
            .alias("n_relevant"),
            F.coalesce("n_found_rel", F.lit(0))
            .cast("long")
            .alias("n_found_rel"),
            F.coalesce("__first_rel", F.lit(0))
            .cast("long")
            .alias("mrr_rank"),
            F.expr(
                "CASE WHEN coalesce(__first_rel, 0) > 0"
                " THEN 1000000 DIV __first_rel ELSE 0 END"
            ).alias("mrr_e6"),
            F.coalesce("dcg_e6", F.lit(0)).cast("long").alias("dcg_e6"),
            F.coalesce("idcg_e6", F.lit(0))
            .cast("long")
            .alias("idcg_e6"),
            F.expr(
                "CASE WHEN coalesce(idcg_e6, 0) > 0"
                " THEN (coalesce(dcg_e6, 0) * 10000) DIV idcg_e6"
                " ELSE 0 END"
            ).alias("ndcg_e4"),
            F.expr(
                "CASE WHEN coalesce(n_relevant, 0) > 0"
                " THEN (coalesce(n_found_rel, 0) * 10000)"
                " DIV n_relevant ELSE 0 END"
            ).alias("recall_e4"),
        )
        .orderBy("query_id")
    )
    try:
        return out.localCheckpoint(eager=True)  # probe-count-sized
    finally:
        tokenized.unpersist()


def phrase_search(
    df: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search over a positional inverted index — the
    retrieval mode BM25 cannot express (bag-of-words scoring is blind
    to adjacency; "slow filter" and "filter slow" are different
    queries here). This is how a search engine verifies phrase
    matches at scale: posting lists of (term, doc, position), one
    equi-join per phrase gap with pos_k = pos_0 + k, count surviving
    anchors.

    Scale shape: the corpus tokenizes ONCE into (doc, pos, term)
    postings (posexplode — linear, map-only); each phrase joins only
    its FIRST term's postings against its k-th term's postings keyed
    on (doc, term, pos+k) — the join fans out by posting-list length
    of the phrase terms, never corpus size, and the phrase spine is a
    broadcast literal. Everything is integers and string equality.

    Returns per phrase: (phrase, n_terms, n_matching_docs,
    n_occurrences, top_doc_id, top_doc_hits) — top doc by (hits desc,
    doc id asc)."""
    toks = df.filter(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("did"),
        F.posexplode(tokenize(text_col)).alias("pos", "term"),
    ).filter(F.col("term") != "")
    spark = df.sparkSession
    spine = []
    for p in phrases:
        terms = p.lower().split()
        for k, t in enumerate(terms):
            spine.append((p, len(terms), k, t))
    ph = F.broadcast(
        spark.createDataFrame(
            spine, "phrase string, n_terms int, k int, term string"
        )
    )
    # anchor on k = 0, then demand every k-th term at pos + k:
    # count matched gaps per (phrase, doc, anchor pos) and keep
    # anchors that matched all n_terms
    j = (
        toks.join(ph, "term")
        .select(
            "phrase", "n_terms", "did",
            (F.col("pos") - F.col("k")).alias("anchor"),
        )
        .groupBy("phrase", "n_terms", "did", "anchor")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(
            (F.col("n_hit") == F.col("n_terms"))
            & (F.col("anchor") >= 0)
        )
    )
    per_doc = j.groupBy("phrase", "n_terms", "did").agg(
        F.count(F.lit(1)).cast("long").alias("hits")
    )
    return (
        per_doc.groupBy("phrase")
        .agg(
            F.max("n_terms").cast("long").alias("n_terms"),
            F.count(F.lit(1)).cast("long").alias("n_matching_docs"),
            F.sum("hits").cast("long").alias("n_occurrences"),
            F.expr("max_by(did, struct(hits, -did))")
            .cast("long").alias("top_doc_id"),
            F.max(F.struct("hits", "did")).getField("hits")
            .cast("long").alias("top_doc_hits"),
        )
        .orderBy("phrase")
    )


def ql_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    mu: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` query-likelihood retrieval with Dirichlet smoothing
    (Zhai & Lafferty 2004) — the language-modeling scorer beside
    bm25_topk's probabilistic one (they disagree exactly where length
    normalization matters, which is why IR evals run both). Same
    probe convention and (query_id, rank) shape as bm25_topk.

    Ranking identity (the standard matched-postings decomposition):
    dropping the query-constant sum of ln(mu*cf_t), score-equivalent
    rank = sum_matched[ln(tf*C + mu*cf_t) - ln(mu*cf_t)]
         - |q| * ln((dl + mu) * C).
    EVERY ln argument is an integer (exact while corpus tokens
    C * max(tf) < 2^62), so both engines run the shared portable-ln
    chain; per-term adjustments quantize once at e6 and the score is
    an integer sum minus an integer multiple of the quantized doc
    term. Candidates = docs sharing >= 1 term (absent terms
    contribute only through the doc-length factor, which the
    decomposition already carries). A doc never matches itself; ties
    rank to the lower doc id. Returns (query_id, doc_id, n_matched,
    score_e6, rank)."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        with_ln,
    )

    base = df.filter(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("did"), tokenize(text_col).alias("toks")
    )
    toks = base.select(
        "did", F.size("toks").alias("dl"),
        F.explode("toks").alias("term"),
    ).filter(F.col("term") != "")
    ctot = F.broadcast(
        toks.agg(F.count(F.lit(1)).cast("long").alias("c_tokens"))
        .localCheckpoint(eager=True)  # 1 row; cross-joined twice
    )
    cf = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    qt = (
        toks.filter(F.col("did").isin(query_ids))
        .select(F.col("did").alias("query_id"), "term")
        .distinct()
        .localCheckpoint(eager=True)  # probe-term-sized; 4 consumers
    )
    qlen = qt.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("qn")
    )
    tf = (
        toks.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("did", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # Evaluate the portable-ln chains at the granularity their arguments
    # actually vary on, BEFORE the query join multiplies rows: ln(mu*cf)
    # depends only on the term (vocabulary-sized), ln(tf*C + mu*cf) only
    # on the (doc, term) posting — neither depends on query_id, so the
    # old formulation re-ran both ~|queries|x as many times on the
    # joined table. Same integer args -> same chains -> bit-identical
    # adj_e6; the join/group membership is unchanged (join reorder only).
    cfp = cf.join(F.broadcast(qt.select("term").distinct()), "term")
    cfp = with_ln(
        cfp.withColumn("den", F.expr(f"{mu} * cf")), "den", "__lnd"
    )
    tfc = (
        tf.join(F.broadcast(cfp), "term")
        .crossJoin(ctot)
        .withColumn("num", F.expr(f"tf * c_tokens + {mu} * cf"))
    )
    tfc = with_ln(tfc, "num", "__lnn")
    adj = tfc.withColumn(
        "adj_e6", F.expr(fixed_e6_expr("__lnn - __lnd"))
    )
    m = adj.join(F.broadcast(qt), "term").filter(
        F.col("did") != F.col("query_id")
    )
    per_doc = m.groupBy("query_id", "did", "dl").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("adj_e6").cast("long").alias("s_adj"),
    )
    dterm = per_doc.crossJoin(ctot).withColumn(
        "dlarg", F.expr(f"(dl + {mu}) * c_tokens")
    )
    dterm = with_ln(dterm, "dlarg", "__lndl")
    scored = (
        dterm.withColumn("dl_e6", F.expr(fixed_e6_expr("__lndl")))
        .join(F.broadcast(qlen), "query_id")
        .withColumn(
            "score_e6", F.expr("s_adj - qn * dl_e6")
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("score_e6"), "did"
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("did").alias("doc_id"),
            "n_matched",
            F.col("score_e6").cast("long").alias("score_e6"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def hard_negatives(
    df: DataFrame,
    query_ids: list[int],
    k_pool: int = 50,
    n_neg: int = 5,
    rel_threshold: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the
    dense-retrieval curation step of Karpukhin et al. 2020 / Xiong et
    al. 2021: negatives that the lexical retriever RANKS HIGH but the
    ground truth rejects train far better than random negatives): per
    probe query, take the BM25 top-``k_pool`` candidate pool, label
    each candidate with the deterministic token-set-Jaccard relevance
    (the retrieval_eval bands), keep the candidates BELOW the binary-
    relevance cut ``rel_threshold`` (default 2 — the same cut
    retrieval_eval's n_relevant/recall use) in retriever order, and
    emit the first ``n_neg`` as that query's hard negatives. The
    emitted ``rel`` column keeps the miner honest: a negative at
    rel = 3 under a strict cut is visibly different training signal
    than one at rel = 0.

    Scale shape: the candidate pool bounds all labeling work at
    |probes| x k_pool rows — the corpus is touched only by the BM25 run
    (one tokenization, shared with the label side via the persisted
    toks frame). Returns (query_id, doc_id, bm25_rank, score,
    neg_rank) ordered by (query_id, neg_rank)."""
    tokenized = df.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
    ).persist()
    run = bm25_topk(
        df, query_ids, k_pool, text_col=text_col, id_col=id_col,
        toks_df=tokenized,
    )
    tsets = tokenized.select(
        "doc_id", F.array_sort(F.array_distinct("toks")).alias("tset")
    )
    probes = tsets.filter(F.col("doc_id").isin(query_ids)).select(
        F.col("doc_id").alias("query_id"), F.col("tset").alias("q_toks")
    )
    jac = F.round(
        F.size(F.array_intersect("tset", "q_toks"))
        / F.size(F.array_union("tset", "q_toks")),
        6,
    )
    cand = (
        run.join(tsets, "doc_id")
        .join(F.broadcast(probes), "query_id")
        .withColumn("__j", jac)
        .withColumn("rel", F.expr(_rel_case("__j")).cast("int"))
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    out = (
        cand.filter(F.col("rel") < rel_threshold)
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= n_neg)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").alias("bm25_rank"),
            "score",
            "rel",
            "neg_rank",
        )
        .orderBy("query_id", "neg_rank")
    )
    try:
        return out.localCheckpoint(eager=True)  # probes x n_neg rows
    finally:
        tokenized.unpersist()
