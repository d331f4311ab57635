"""DuckDB oracle twins for the extension queries.

Only the xxhash64 SimHash/winnowing variants and the sketch queries
(HLL, GK percentiles) are absent — engine-hash/sketch-dependent by nature;
the driver records rows-only checks, tests/ pin their invariants, and each
hash-dependent operator has a PORTABLE md5-based twin that IS replayed here
(doc_simhash_portable_near_dups, doc_winnow_portable_summary,
events_stratified_sample's universe sampler).
MinHash-near-dups and LSH-topk DO have oracles: their exact verification /
re-rank stage is amplified to full recall on this corpus, so the outputs
equal their brute-force twins. Everything else is exact.
"""

# language-ID argmax as SQL (same marker sets + tiebreak priority as
# operators/text.py LANG_MARKERS)
_LANG_SQL = """
    CASE
      WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
      WHEN fr_hits >= de_hits AND fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
      WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
      WHEN es_hits > 0 THEN 'es'
      ELSE 'en'
    END
"""

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"

ORACLES_EXT: dict[str, str] = {
    "doc_text_features": f"""
        WITH base AS (
            SELECT doc_id,
                   {_TOKS} AS toks,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
            FROM documents
        ), feat AS (
            SELECT doc_id, toks, norm,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_ratio_raw,
                   list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks) AS avg_len_raw,
                   len(list_filter(toks, t -> list_contains(
                       ['the','a','an','and','or','of','to','in','is','it'], t)))
                       * 1.0 / len(toks) AS stop_ratio_raw,
                   len(list_filter(list_distinct(toks), t -> list_contains(
                       ['the','a','and','of','to'], t))) AS en_hits,
                   len(list_filter(list_distinct(toks), t -> list_contains(
                       ['le','la','et','les','des'], t))) AS fr_hits,
                   len(list_filter(list_distinct(toks), t -> list_contains(
                       ['der','die','und','das','ist'], t))) AS de_hits,
                   len(list_filter(list_distinct(toks), t -> list_contains(
                       ['el','la','y','los','de'], t))) AS es_hits
            FROM base
        )
        SELECT doc_id,
               n_tokens,
               round(distinct_ratio_raw, 6) AS distinct_ratio,
               round(avg_len_raw, 6) AS avg_token_len,
               round(stop_ratio_raw, 6) AS stop_ratio,
               round(0.4 * distinct_ratio_raw
                     + 0.3 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - abs(stop_ratio_raw - 0.3)) + 1e-9, 6) AS quality,
               {_LANG_SQL} AS lang_pred,
               md5(norm) AS fp
        FROM feat
    """,
    "doc_lang_stats": f"""
        SELECT lang, count(*) AS n_docs,
               round(avg(n_chars), 2) AS avg_chars,
               CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens
        FROM documents GROUP BY lang ORDER BY lang
    """,
    "doc_exact_dedup_summary": """
        WITH fp AS (
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        ), per AS (SELECT fp, count(*) AS n FROM fp GROUP BY fp)
        SELECT CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_distinct,
               CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS n_dup_docs
        FROM per
    """,
    # same lookahead-free GPT-2-style pattern as text.py:BPEISH_PATTERN
    # (SQL-escaped leading quote); Java regex and RE2 agree on it.
    "doc_token_counts": r"""
        WITH b AS (
            SELECT doc_id,
                   len(regexp_split_to_array(lower(trim(text)), '\s+')) AS ws_tokens,
                   len(list_filter(
                       regexp_extract_all(text,
                           '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
                       t -> trim(t) <> '')) AS bpe_tokens,
                   length(text) AS n_chars_text
            FROM documents
        )
        SELECT doc_id, ws_tokens, bpe_tokens, n_chars_text,
               round((n_chars_text * 1.0 / bpe_tokens) + 1e-9 + abs(n_chars_text * 1.0 / bpe_tokens) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS chars_per_bpe_token
        FROM b
    """,
    # tfidf twin: PORTABLE libm-free lns (the 6dp score feeds the rank
    # tiebreak, so a libm ulp could flip the emitted rows); chain
    # generated below after the dict literal
    "doc_tfidf_top_terms": "__SET_BELOW__",
    "doc_jaccard_vs_queries": f"""
        WITH toks AS (
            SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
        ), probes AS (
            SELECT doc_id AS query_id, toks AS q_toks FROM toks
            WHERE doc_id IN (0, 1, 2, 3, 4)
        )
        SELECT query_id, doc_id,
               round(len(list_intersect(toks, q_toks)) * 1.0
                     / len(list_distinct(list_concat(toks, q_toks))), 6) AS jaccard
        FROM toks CROSS JOIN probes
        WHERE doc_id <> query_id
          AND round(len(list_intersect(toks, q_toks)) * 1.0
                    / len(list_distinct(list_concat(toks, q_toks))), 6) >= 0.5
    """,
    "embedding_norms": """
        SELECT vec_id, len(embedding) AS dim,
               round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
        FROM embeddings
    """,
    "embedding_topk_bruteforce": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        probes AS (SELECT vec_id AS query_id, e AS q FROM v WHERE vec_id IN (0,1,2,3,4)),
        sims AS (
            SELECT query_id, vec_id,
                   round(list_inner_product(e, q)
                         / (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(q, q))),
                         6) AS cosine_sim
            FROM v CROSS JOIN probes WHERE vec_id <> query_id
        )
        SELECT query_id, vec_id, cosine_sim, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id
            ) AS rank FROM sims
        ) WHERE rank <= 10
    """,
    "events_json_stats": """
        SELECT event_type, count(*) AS n,
               round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
               min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "events_variant_stats": """
        SELECT event_type, count(*) AS n,
               round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
               min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "user_sessions": """
        WITH tagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
            SELECT user_id,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM tagged
        ), per_session AS (
            SELECT user_id, session_id, count(*) AS n_events
            FROM sessioned GROUP BY user_id, session_id
        )
        SELECT user_id, count(*) AS n_sessions,
               round((avg(n_events)) + 1e-9 + abs(avg(n_events)) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS avg_session_events
        FROM per_session GROUP BY user_id ORDER BY user_id
    """,
    "events_asof_orders": """
        WITH ranked AS (
            SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
                   ) AS rn
            FROM events e
            LEFT JOIN orders o
              ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        )
        SELECT event_id, user_id, ts, o_orderkey, o_orderdate
        FROM ranked WHERE rn = 1
    """,
    "lineitem_summary_stats": """
        SELECT count(*) AS n,
               round((avg(l_quantity)) + 1e-9 + abs(avg(l_quantity)) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS qty_mean,
               round((stddev_samp(l_quantity)) + 1e-9 + abs(stddev_samp(l_quantity)) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS qty_std,
               round((min(l_quantity)) + 1e-9 + abs(min(l_quantity)) * CAST('9.094947017729282e-13' AS DOUBLE), 2) AS qty_min,
               round((max(l_quantity)) + 1e-9 + abs(max(l_quantity)) * CAST('9.094947017729282e-13' AS DOUBLE), 2) AS qty_max,
               round((avg(l_extendedprice)) + 1e-9 + abs(avg(l_extendedprice)) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS price_mean,
               round((min(l_extendedprice)) + 1e-9 + abs(min(l_extendedprice)) * CAST('9.094947017729282e-13' AS DOUBLE), 2) AS price_min,
               round((max(l_extendedprice)) + 1e-9 + abs(max(l_extendedprice)) * CAST('9.094947017729282e-13' AS DOUBLE), 2) AS price_max
        FROM lineitem
    """,
    "orders_deterministic_sample": """
        WITH sample AS (
            SELECT * FROM orders ORDER BY o_orderkey LIMIT 100
        )
        SELECT count(*) AS sample_n,
               round(avg(o_totalprice), 2) AS sample_avg_price,
               min(o_orderdate) AS first_date,
               max(o_orderdate) AS last_date
        FROM sample
    """,
    "part_type_pattern": """
        SELECT p_type,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type LIKE '%M%'
        GROUP BY p_type ORDER BY p_type
    """,
    "orders_rollup": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "top_customer_revenue": """
        SELECT c_custkey, c_name,
               round((sum(l_extendedprice * (1 - l_discount))) + 1e-9 + abs(sum(l_extendedprice * (1 - l_discount))) * CAST('9.094947017729282e-13' AS DOUBLE), 2)
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    "mktsegment_order_priority_pivot": """
        SELECT c_mktsegment,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
               count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
               count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "supplier_nation_stats": """
        SELECT n_name, count(DISTINCT s_suppkey) AS n_suppliers,
               round(sum(s_acctbal), 2) AS total_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
    """,
    "documents_clean_corpus": f"""
        WITH feat AS (
            SELECT doc_id, lang, source,
                   len({_TOKS}) AS n_tokens,
                   round(0.4 * (len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}))
                         + 0.3 * (CASE WHEN len({_TOKS}) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
                         + 0.3 * (1.0 - abs(len(list_filter({_TOKS}, t -> list_contains(
                               ['the','a','an','and','or','of','to','in','is','it'], t)))
                               * 1.0 / len({_TOKS}) - 0.3)) + 1e-9, 6) AS quality,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        ), kept AS (
            SELECT * FROM feat WHERE quality >= 0.8 AND n_tokens >= 30
        ), survivors AS (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept
        )
        SELECT lang, source, count(*) AS n_docs,
               round((avg(quality)) + 1e-9 + abs(avg(quality)) * CAST('9.094947017729282e-13' AS DOUBLE), 6) AS avg_quality
        FROM survivors WHERE rn = 1
        GROUP BY lang, source ORDER BY lang, source
    """,
    # full pipeline replay: quality gate -> exact dedup -> brute-force
    # Jaccard near-dup edges (banding recall is full on this corpus) ->
    # recursive-CTE connected components -> survivor stats.
    "documents_training_corpus": f"""
        WITH feat AS (
            SELECT doc_id, lang, source,
                   {_TOKS} AS tk,
                   len({_TOKS}) AS n_tokens,
                   round(0.4 * (len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}))
                         + 0.3 * (CASE WHEN len({_TOKS}) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
                         + 0.3 * (1.0 - abs(len(list_filter({_TOKS}, t -> list_contains(
                               ['the','a','an','and','or','of','to','in','is','it'], t)))
                               * 1.0 / len({_TOKS}) - 0.3)) + 1e-9, 6) AS quality,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        ), kept AS (
            SELECT * FROM feat WHERE quality >= 0.8 AND n_tokens >= 30
        ), exact_kept AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                FROM kept
            ) WHERE rn = 1
        ), sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(tk)),
                                                i -> tk[i] || ' ' || tk[i + 1])) AS sh
            FROM exact_kept
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b
              ON a.doc_id < b.doc_id
             AND len(a.sh) * 2 >= len(b.sh) AND len(b.sh) * 2 >= len(a.sh)
            WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
                        / nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0),
                        6) >= 0.5
        ), edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ), walk AS (
            WITH RECURSIVE r(node, label) AS (
                SELECT u, u FROM edges
                UNION
                SELECT e.v, r.label FROM r JOIN edges e ON r.node = e.u
            )
            SELECT node, min(label) AS component FROM r GROUP BY node
        )
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round((avg(quality)) + 1e-9 + abs(avg(quality)) * CAST('9.094947017729282e-13' AS DOUBLE), 6) AS avg_quality
        FROM exact_kept
        WHERE doc_id NOT IN (SELECT node FROM walk WHERE component <> node)
        GROUP BY lang, source ORDER BY lang, source
    """,
    "documents_mixture_sample": """
        WITH ranked AS (
            SELECT doc_id, lang,
                   CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
                             WHEN 'fr' THEN 0.3 WHEN 'es' THEN 0.2
                             WHEN 'zh' THEN 0.1 ELSE 0.0 END AS rate,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n_total
            FROM documents
        )
        SELECT lang, max(n_total) AS n_total, count(*) AS n_sampled,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM ranked WHERE rn <= ceil(round(rate * n_total, 6))
        GROUP BY lang ORDER BY lang
    """,
    "events_near_pairs": """
        SELECT a.user_id, count(*) AS n_pairs
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - 120000000
                                AND epoch_us(a.ts) + 120000000
        GROUP BY a.user_id ORDER BY a.user_id
    """,
    "events_daily_from_hourly": """
        SELECT date_trunc('day', ts) AS day, event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "lineitem_cube": """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "orders_by_year_month": """
        SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
               month(o_orderdate) AS mon, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    "customer_name_functions": """
        SELECT c_custkey,
               upper(c_name) AS upper_name,
               lower(c_name) AS lower_name,
               length(c_name) AS name_len,
               substr(c_name, 1, 8) AS name_prefix,
               replace(c_name, 'Customer', 'Cust') AS name_short,
               lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key
        FROM customer
    """,
    "lineitem_percentiles": """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90,
               round(median(l_quantity), 4) AS qty_median
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "top20_tokens": """
        SELECT token, count(*) AS n
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
            FROM documents
        )
        GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
    "embedding_near_dup_pairs": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_inner_product(a.e, b.e)
                     / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))),
                     6) AS cosine_sim
        FROM v a CROSS JOIN v b
        WHERE a.vec_id < b.vec_id
          AND round(list_inner_product(a.e, b.e)
                    / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))),
                    6) >= 0.4
    """,
    "lineitem_set_ops": """
        WITH r_keys AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
             a_keys AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'A')
        SELECT
            (SELECT count(*) FROM (SELECT * FROM r_keys EXCEPT SELECT * FROM a_keys)) AS only_r_orders,
            (SELECT count(*) FROM (SELECT * FROM r_keys INTERSECT SELECT * FROM a_keys)) AS both_orders
    """,
    # replays stratified_sample_hash: 60-bit md5(event_id) prefix under a
    # per-stratum integer threshold (same literals as the Spark side —
    # int(fraction * 2^60) computed once driver-side)
    "events_stratified_sample": """
        WITH s AS (
            SELECT event_type,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::UBIGINT AS u,
                   CASE event_type
                        WHEN 'click' THEN 115292150460684704
                        WHEN 'view' THEN 57646075230342352
                        WHEN 'purchase' THEN 1152921504606846976
                        WHEN 'signup' THEN 1152921504606846976
                        WHEN 'error' THEN 576460752303423488
                        ELSE 0 END AS thresh
            FROM events
        )
        SELECT event_type,
               count(*) AS n_total,
               count(*) FILTER (WHERE u < thresh) AS n_sampled
        FROM s GROUP BY event_type ORDER BY event_type
    """,
    # the Spark side round-trips customer through an RTDB export +
    # read_rtdb_export; computing the same aggregate straight from the
    # parquet table proves the reader preserves content exactly
    "rtdb_export_segment_stats": """
        SELECT c_mktsegment AS segment,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_acctbal,
               count(DISTINCT c_nationkey) AS n_nations
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY segment
    """,
}


def _tfidf_oracle() -> str:
    """TF-IDF twin over the PORTABLE libm-free ln: smoothed idf
    decomposes to (ln(N+1) - ln(df+1)) + 1, both integer-argument —
    the 6dp-rounded score is a row_number tiebreak input, where a
    one-ulp libm divergence flips the emitted row set (DSIR-class)."""
    from firebase_etl_spark.functions.portable_math import ln_select_sql

    chain = ln_select_sql(
        "SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs"
        " FROM tf JOIN df USING (term), n",
        [("(n_docs + 1)", "__lnn"), ("(df + 1)", "__lndf")],
    )
    return rf"""
        WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, term, tf, df,
                   round(tf * ((__lnn - __lndf) + 1.0), 6) AS tfidf
            FROM ({chain})
        )
        SELECT doc_id, term, tf, df, tfidf, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term
            ) AS rank FROM scored
        ) WHERE rank <= 3
    """


ORACLES_EXT["doc_tfidf_top_terms"] = _tfidf_oracle()

# ann_topk_lsh's exact re-rank equals brute-force top-k because LSH_TABLES
# is OR-amplified to 100% candidate recall on this corpus (measured at
# sf0.01; deterministic hyperplanes + data) — so it shares the oracle.
ORACLES_EXT["embedding_topk_lsh"] = ORACLES_EXT["embedding_topk_bruteforce"]
ORACLES_EXT["embedding_topk_quantized"] = ORACLES_EXT["embedding_topk_bruteforce"]

# minhash_near_dups verifies candidates with EXACT shingle Jaccard, and the
# banded candidate set has full recall on this corpus (equals brute force
# at sf0.01) — so the verified output is the exact pair set below. Word
# 2-gram shingles over whitespace tokens, both sides distinct-deduped.
ORACLES_EXT["doc_minhash_near_dups"] = r"""
    -- postings-join form of the brute all-pairs 2-gram Jaccard (the
    -- doc_prefix_filter_near_dups rewrite, same reasons): only pairs
    -- sharing a shingle are enumerated, |A u B| = la + lb - c gives
    -- the identical integer ratio, and the O(n^2) list-intersect join
    -- that hung the sf0.1 round-semantics audit is gone.
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk)),
                                            i -> tk[i] || ' ' || tk[i + 1])) AS sh
        FROM toks
    ), lens AS MATERIALIZED (
        SELECT doc_id, len(sh) AS l FROM sh
    ), post AS MATERIALIZED (
        SELECT doc_id, unnest(sh) AS s FROM sh
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS c
        FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT id_a, id_b,
               round(c * 1.0 / nullif(la.l + lb.l - c, 0), 6) AS jaccard
        FROM pairs
        JOIN lens la ON la.doc_id = id_a
        JOIN lens lb ON lb.doc_id = id_b
        -- sound prune: J(A,B) >= 0.5 forces |A| and |B| within 2x
        WHERE la.l * 2 >= lb.l AND lb.l * 2 >= la.l
    ) WHERE jaccard >= 0.5
"""

# lossless prefix filter == exact brute force (3-gram shingles)
ORACLES_EXT["doc_prefix_filter_near_dups"] = r"""
    -- postings-join form of the brute all-pairs Jaccard: only pairs
    -- sharing at least one shingle are enumerated (c >= 1; a pair with
    -- c = 0 cannot reach the 0.5 threshold), and |A u B| = la + lb - c
    -- gives the IDENTICAL integer ratio the list_intersect form
    -- computed. The original O(n^2) list-intersect join hung the sf0.1
    -- round-semantics audit (>20 min); this replays in seconds.
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS sh
        FROM toks WHERE len(tk) >= 3
    ), lens AS MATERIALIZED (
        SELECT doc_id, len(sh) AS l FROM sh
    ), post AS MATERIALIZED (
        SELECT doc_id, unnest(sh) AS s FROM sh
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS c
        FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT id_a, id_b,
               round(c * 1.0 / nullif(la.l + lb.l - c, 0), 6) AS jaccard
        FROM pairs
        JOIN lens la ON la.doc_id = id_a
        JOIN lens lb ON lb.doc_id = id_b
        WHERE la.l * 2 >= lb.l AND lb.l * 2 >= la.l
    ) WHERE jaccard >= 0.5
"""

# threshold-tuning histogram: brute-force exact pairs at j >= 0.3 (the
# prefix filter is lossless, so the curve is the true distribution)
ORACLES_EXT["doc_similarity_histogram"] = r"""
    WITH samp AS (
        -- content-addressed fixed-size sample, mirroring the query's
        -- SIM_HIST_SAMPLE_CAP=2000 distributed top-k by md5(doc_id)
        SELECT doc_id, text FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 2000
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM documents
    ), toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM samp
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS sh
        FROM toks WHERE len(tk) >= 3
    ), lens AS MATERIALIZED (
        SELECT doc_id, len(sh) AS l FROM sh
    ), post AS MATERIALIZED (
        SELECT doc_id, unnest(sh) AS s FROM sh
    ), opairs AS MATERIALIZED (
        -- postings-join form of the sample-pair Jaccard (the
        -- doc_minhash_near_dups rewrite; c = 0 pairs cannot reach the
        -- 0.3 histogram floor): the list-intersect form cost the
        -- sf0.1 audit 972 s, this replays in seconds
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS c
        FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   round(c * 1.0 / nullif(la.l + lb.l - c, 0), 6)
                       AS jaccard
            FROM opairs
            JOIN lens la ON la.doc_id = id_a
            JOIN lens lb ON lb.doc_id = id_b
        ) WHERE jaccard >= 0.3
    )
    SELECT CASE WHEN jaccard >= 1.0 THEN 10
                ELSE CAST(floor(jaccard * 10) AS INT) END AS sim_decile,
           count(*) AS n_pairs,
           CAST(sum(id_a + id_b) AS BIGINT) AS id_checksum,
           n_docs_total,
           CAST(least(n_docs_total, 2000) AS BIGINT) AS n_docs_sampled
    FROM pairs, tot GROUP BY 1, n_docs_total ORDER BY sim_decile
"""

ORACLES_EXT["media_feature_stats"] = """
    WITH media AS (
        SELECT doc_id AS media_id,
               ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS h
        FROM documents
    )
    SELECT kind, count(*) AS n_media, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           count(DISTINCT h) AS n_unique,
           round(avg(CAST(CAST(concat('0x', substr(h, 1, 2)) AS INT) / 255.0 AS FLOAT)), 6) AS avg_f0
    FROM media GROUP BY kind ORDER BY kind
"""

ORACLES_EXT["media_dedup_survivors"] = """
    WITH media AS (
        SELECT doc_id AS media_id,
               ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
               sha256(text) AS h
        FROM documents
    ), keep AS (
        SELECT h, min(media_id) AS keep_id FROM media GROUP BY h
    )
    SELECT m.kind, count(*) AS n_survivors, min(m.media_id) AS first_id
    FROM media m JOIN keep k ON m.h = k.h AND m.media_id = k.keep_id
    GROUP BY m.kind ORDER BY m.kind
"""

ORACLES_EXT["embedding_topk_ivf"] = """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
    ), nv AS (
        SELECT vec_id,
               list_transform(ve, x -> x / sqrt(list_inner_product(ve, ve))) AS ve
        FROM v
    ), c AS (
        SELECT vec_id AS cell, ve AS cv FROM nv
        WHERE vec_id IN (0, 31, 62, 93, 124, 155, 186, 217, 248, 279, 310, 341, 372, 403, 434, 465)
    ), sims AS (
        SELECT nv.vec_id, c.cell,
               round(list_inner_product(nv.ve, c.cv), 6) AS cos
        FROM nv CROSS JOIN c
    ), assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
            FROM sims
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
            FROM sims WHERE vec_id IN (0, 1, 2, 3, 4)
        ) WHERE rn <= 4
    ), cand AS (
        SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cell)
    ), scored AS (
        SELECT cd.query_id, cd.vec_id,
               round(list_inner_product(q.ve, t.ve), 6) AS cosine_sim
        FROM cand cd
        JOIN nv q ON q.vec_id = cd.query_id
        JOIN nv t ON t.vec_id = cd.vec_id
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= 10
    ORDER BY query_id, rank
"""

# Mirrors _messy_users_from_customers + transform_users independently:
# branches on the same key-mods, then replays validate/dedup/report in SQL.
# Unparseable createdAt maps to Spark's current_timestamp(); the oracle uses
# a far-future sentinel — both beat every real date and tie within a group,
# so the id-desc tiebreak picks the same survivor.
ORACLES_EXT["users_pipeline_report"] = """
    WITH raw AS (
        SELECT c_custkey AS k,
               printf('uid%015d', c_custkey) AS uid,
               CASE WHEN c_custkey % 3 = 2 THEN 'google.com' ELSE 'CREDENTIALS' END AS provider,
               CASE
                   WHEN c_custkey % 17 IN (0, 1, 2) THEN
                       CASE WHEN c_custkey % 3 = 2
                            THEN printf('google_user_uid%015d@placeholder.com', c_custkey)
                            ELSE NULL END
                   WHEN c_custkey % 17 IN (3, 4, 5) THEN printf('dup%d@example.com', c_custkey % 5)
                   ELSE printf('user%d@example.com', c_custkey)
               END AS email,
               CASE c_custkey % 5 WHEN 0 THEN true WHEN 2 THEN true ELSE false END AS everified,
               CASE c_custkey % 5
                   WHEN 0 THEN make_timestamp(2024, CAST(c_custkey % 12 + 1 AS BIGINT),
                                              CAST(c_custkey % 28 + 1 AS BIGINT),
                                              CAST(c_custkey % 24 AS BIGINT),
                                              CAST(c_custkey % 60 AS BIGINT), 0)
                   WHEN 1 THEN make_timestamp(2024, CAST(c_custkey % 12 + 1 AS BIGINT),
                                              CAST(c_custkey % 28 + 1 AS BIGINT),
                                              CAST(c_custkey % 24 AS BIGINT),
                                              CAST(c_custkey % 60 AS BIGINT), 0)
                   WHEN 2 THEN make_timestamp((c_custkey * 37 + 1700000000) * 1000000)
                   ELSE TIMESTAMP '9999-01-01'
               END AS created
        FROM customer
    ), survivors AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY email ORDER BY created DESC, uid DESC
            ) AS rn
            FROM raw WHERE email IS NOT NULL
        ) WHERE rn = 1
    )
    SELECT provider,
           count(*) AS n_users,
           count(*) FILTER (everified) AS n_verified,
           count(*) FILTER (email LIKE '%@placeholder.com') AS n_placeholder
    FROM survivors GROUP BY provider ORDER BY provider
"""

ORACLES_EXT["users_pipeline_quarantine"] = """
    SELECT 'email_null' AS violation, count(*) AS n_rows
    FROM customer
    WHERE c_custkey % 17 IN (0, 1, 2) AND c_custkey % 3 <> 2
"""

ORACLES_EXT["q6_forecast_revenue"] = """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""

ORACLES_EXT["q18_large_orders"] = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM orders
    JOIN (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    ) big ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
"""

ORACLES_EXT["media_thumbnail_stats"] = """
    SELECT count(*) AS n_images,
           count(DISTINCT sha256(text)) AS n_distinct_thumbs,
           round(avg(32 * 32), 2) AS avg_thumb_bytes
    FROM documents WHERE doc_id % 3 = 0
"""

ORACLES_EXT["media_frame_counts"] = """
    WITH v AS (
        SELECT doc_id, CAST((doc_id * 777) % 5000 AS INT) AS d
        FROM documents WHERE doc_id % 3 = 2
    ), f AS (
        SELECT doc_id,
               CASE WHEN d = 0 THEN 1 ELSE least(4, d // 1000 + 1) END AS n_frames
        FROM v
    )
    SELECT n_frames, count(*) AS n_videos FROM f GROUP BY n_frames ORDER BY n_frames
"""

# Oracle for the applyInPandasWithState upsert stream: its final state per
# key is keep-latest, i.e. plain SQL. Ordering runs on microsecond-truncated
# time (Spark stores micros; events.parquet is nanos) with event_id-desc
# tiebreak, so both engines pick the same winner even on micro-level ties.
ORACLES_EXT["stream_keep_latest_per_user"] = """
    SELECT user_id, ts, event_id, event_type, value FROM (
        SELECT user_id,
               make_timestamp(epoch_us(ts)) AS ts,
               event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
"""

# Bounded append-mode streaming twins ARE oracle-expressible: with one
# input file the run is deterministic — the engine emits exactly the
# windows whose end precedes the final watermark (max event time - delay).
# The oracles replay that semantics in SQL: aggregate, then keep windows
# with end <= max(ts) - delay. Timestamps compare on microsecond precision
# (make_timestamp(epoch_us(ts))) matching Spark's nanos->micros truncation.
ORACLES_EXT["stream_hourly_event_counts"] = """
    WITH e AS (SELECT make_timestamp(epoch_us(ts)) AS ts, event_type, value FROM events),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM e),
    g AS (
        SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM e GROUP BY 1, 2, 3
    )
    SELECT g.* FROM g, wm WHERE g.window_end <= wm.w
"""

ORACLES_EXT["stream_sliding_counts"] = """
    WITH e AS (SELECT make_timestamp(epoch_us(ts)) AS ts, event_type, value FROM events),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM e),
    g AS (
        SELECT date_trunc('hour', ts) - to_hours(i) AS window_start,
               date_trunc('hour', ts) - to_hours(i) + INTERVAL 2 HOUR AS window_end,
               event_type, value
        FROM e, (SELECT unnest([0, 1]) AS i)
    ), agg AS (
        SELECT window_start, window_end, event_type, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM g GROUP BY 1, 2, 3
    )
    SELECT agg.* FROM agg, wm WHERE agg.window_end <= wm.w
"""

# session_window semantics: events merge while the next starts strictly
# inside [prev, prev+gap); session end = last event + gap; emitted once the
# watermark (max ts - 30 min) passes the session end.
ORACLES_EXT["stream_user_sessions"] = """
    WITH e AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, value FROM events),
    wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e),
    tagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS ns
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT user_id, ts, value,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM tagged
    ), per AS (
        SELECT min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM s GROUP BY user_id, sid
    )
    SELECT per.* FROM per, wm WHERE per.session_end <= wm.w
"""

# stream-static enrichment rollup: left join to the dimension is
# stateless, so the only streaming semantics are the windowed aggregate's
# watermark cutoff — same replay as stream_hourly_event_counts.
ORACLES_EXT["stream_enriched_segments"] = """
    WITH e AS (SELECT make_timestamp(epoch_us(ts)) AS ts, user_id, value FROM events),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM e),
    j AS (
        SELECT e.ts, e.value, c.c_mktsegment
        FROM e LEFT JOIN customer c ON e.user_id = c.c_custkey
    ), g AS (
        SELECT date_trunc('hour', ts) AS window_start, c_mktsegment,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM j GROUP BY 1, 2
    )
    SELECT g.* FROM g, wm WHERE g.window_start + INTERVAL 1 HOUR <= wm.w
"""

# stream-stream inner join on a bounded run emits the complete pair set —
# identical semantics to the batch range join's per-user pair counts.
ORACLES_EXT["stream_near_pairs"] = """
    SELECT a.user_id, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - 120000000
                            AND epoch_us(a.ts) + 120000000
    GROUP BY a.user_id ORDER BY a.user_id
"""

# Single input file => single micro-batch: dropDuplicatesWithinWatermark
# emits exactly one row per present key, so the emission count is exact SQL.
ORACLES_EXT["stream_dedup_events"] = """
    SELECT user_id, event_type, CAST(1 AS BIGINT) AS n_emitted
    FROM events GROUP BY user_id, event_type
"""

ORACLES_EXT["events_salted_type_stats"] = """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
"""

# Sliding windows via explicit window-set expansion: a 2h-window/1h-slide
# event belongs to windows starting at trunc(ts)-1h and trunc(ts) (epoch-
# aligned, same alignment Spark uses).
ORACLES_EXT["events_sliding_counts"] = """
    SELECT window_start, event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM (
        SELECT date_trunc('hour', ts) - to_hours(i) AS window_start,
               event_type, value
        FROM events, (SELECT unnest([0, 1]) AS i)
    )
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
"""

ORACLES_EXT["q4_order_priority"] = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

ORACLES_EXT["q12_shipmode_priority"] = """
    SELECT l_returnflag,
           count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
           count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1997-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
"""

ORACLES_EXT["q14_promo_revenue"] = """
    SELECT round(
        100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
"""

ORACLES_EXT["customer_running_revenue"] = """
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders WHERE o_custkey <= 5
    ORDER BY o_custkey, o_orderdate, o_orderkey
"""

ORACLES_EXT["order_rank_stats"] = """
    SELECT o_orderstatus, o_orderkey,
           round(o_totalprice, 2) AS o_totalprice,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           ntile(4) OVER w AS quartile
    FROM orders WHERE o_orderkey <= 2000
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_orderstatus, rnk, o_orderkey
"""

ORACLES_EXT["lineitem_grouping_sets"] = """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS total_price,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""

# Connected components in SQL: recursive reachability closure over the
# symmetrized near-dup edges, then min reachable id per node = component.
ORACLES_EXT["embedding_dedup_clusters"] = """
    WITH nv AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                               CAST(embedding AS DOUBLE[])))) AS ve
        FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM nv a JOIN nv b ON a.vec_id < b.vec_id
        WHERE round(list_inner_product(a.ve, b.ve), 6) >= 0.4
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), walk AS (
        WITH RECURSIVE r(node, label) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, r.label FROM r JOIN edges e ON r.node = e.u
        )
        SELECT node, min(label) AS component FROM r GROUP BY node
    )
    SELECT component AS representative, count(*) AS n_members
    FROM walk GROUP BY component ORDER BY representative
"""

ORACLES_EXT["orders_moving_avg"] = """
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(o_totalprice) OVER w, 2) AS sum_30d,
           count(*) OVER w AS n_30d
    FROM orders WHERE o_custkey <= 10
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
    )
    ORDER BY o_custkey, o_orderdate, o_orderkey
"""

ORACLES_EXT["top_bigrams_udtf"] = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        FROM documents
    ), grams AS (
        SELECT tk[i] || ' ' || tk[i + 1] AS ngram
        FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i)
    )
    SELECT ngram, count(*) AS n FROM grams
    GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20
"""

ORACLES_EXT["q17_small_quantity_revenue"] = """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_type LIKE 'PROMO%'
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey
      )
"""

ORACLES_EXT["events_props_key_stats"] = """
    SELECT k AS key, count(*) AS n
    FROM (SELECT unnest(json_keys(props)) AS k FROM events WHERE props IS NOT NULL)
    GROUP BY k ORDER BY k
"""

ORACLES_EXT["q5_local_supplier_volume"] = """
    -- +1e-9 nudge: this sum lands on an exact half-cent at sf0.01
    -- (tools/round_audit.py), where round(double) is engine-version-
    -- dependent; mirrored in queries.q5_local_supplier_volume
    SELECT n_name,
           round((sum(l_extendedprice * (1 - l_discount))) + 1e-9 + abs(sum(l_extendedprice * (1 - l_discount))) * CAST('9.094947017729282e-13' AS DOUBLE), 2)
               AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
"""

ORACLES_EXT["q10_returned_items"] = """
    SELECT c_custkey, c_name, n_name, c_mktsegment,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey LIMIT 20
"""

ORACLES_EXT["q19_disjunctive_revenue"] = """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_type LIKE 'PROMO%' AND l_quantity BETWEEN 1 AND 11)
       OR (p_type LIKE 'STANDARD%' AND l_quantity BETWEEN 10 AND 20)
       OR (p_size <= 5 AND l_quantity BETWEEN 20 AND 30)
"""

ORACLES_EXT["q7_nation_volume"] = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

ORACLES_EXT["q8_market_share"] = """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year ORDER BY o_year
"""

ORACLES_EXT["q13_customer_distribution"] = """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""

ORACLES_EXT["q15_top_supplier"] = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""

ORACLES_EXT["q21_waiting_suppliers"] = """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
"""

ORACLES_EXT["q22_global_sales_opportunity"] = """
    SELECT cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM (
        SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal, c_custkey
        FROM customer
        WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
          AND c_acctbal > (
              SELECT avg(c_acctbal) FROM customer
              WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 3, 5, 7, 9)
          )
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1999-01-01'
          )
    )
    GROUP BY cntrycode ORDER BY cntrycode
"""

ORACLES_EXT["customer_order_arrays"] = """
    SELECT o_custkey,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order,
           count(*) AS n_orders
    FROM orders WHERE o_custkey <= 50
    GROUP BY o_custkey ORDER BY o_custkey
"""


def _simhash_portable_oracle(n_bits: int = 60, max_hamming: int = 4) -> str:
    """Full DuckDB replay of the portable md5 SimHash near-dup operator
    (fingerprint + hamming verify). Banding on the Spark side is
    recall-lossless (pigeonhole), so brute-force hamming here defines the
    same pair set. The 60 bit-sum columns are generated, not hand-written."""
    bit_sums = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits)
    )
    fp_terms = "\n                 + ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(n_bits)
    )
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
                FROM documents
            )
        ),
        h AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            FROM toks
        ),
        bits AS (
            SELECT doc_id,
                   {bit_sums}
            FROM h GROUP BY doc_id
        ),
        fp AS (
            SELECT doc_id,
                   {fp_terms} AS fp
            FROM bits
        )
        , pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
        ),
        members AS (
            SELECT hamming, id_a AS d FROM pairs
            UNION ALL
            SELECT hamming, id_b AS d FROM pairs
        )
        SELECT p.hamming, p.n_pairs, m.n_docs
        FROM (SELECT hamming, count(*) AS n_pairs FROM pairs GROUP BY hamming) p
        JOIN (SELECT hamming, count(DISTINCT d) AS n_docs FROM members
              GROUP BY hamming) m USING (hamming)
        ORDER BY hamming
    """


ORACLES_EXT["doc_simhash_portable_near_dups"] = _simhash_portable_oracle()

# full replay of the portable winnowing scheme with DuckDB list
# expressions: positional k-grams (k=4) -> md5 60-bit gram hash ->
# sliding-window (w=4) minima -> per-doc distinct prints. Short docs keep
# one partial gram / one window, mirroring the Spark operator's edge rules.
ORACLES_EXT["doc_winnow_portable_summary"] = r"""
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 4 THEN
                   list_transform(range(1, len(toks) - 2),
                       i -> ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 15))::BIGINT)
               ELSE [('0x' || substr(md5(array_to_string(toks, ' ')), 1, 15))::BIGINT]
               END AS ghs
        FROM base
    ),
    p AS (
        SELECT doc_id,
               CASE WHEN len(ghs) >= 4 THEN
                   list_distinct(list_transform(range(1, len(ghs) - 2),
                       j -> list_min(ghs[j:j+3])))
               ELSE [list_min(ghs)]
               END AS prints
        FROM g
    ),
    corpus AS (
        SELECT count(DISTINCT pr) AS n_distinct_prints
        FROM (SELECT unnest(prints) AS pr FROM p)
    )
    SELECT (SELECT count(*) FROM p) AS n_docs,
           (SELECT round(avg(len(prints)), 4) FROM p) AS avg_prints_per_doc,
           n_distinct_prints
    FROM corpus
"""

# full replay of the Gopher-rule quality report (operators/quality.py):
# word-level rules off the token list, n-gram repetition fractions via an
# unnested gram count, identical tiebreak (count desc, gram asc) and 6dp
# per-doc rounding before the 4dp per-lang averages.
ORACLES_EXT["doc_gopher_quality_report"] = r"""
    WITH base AS (
        SELECT doc_id, lang,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    feat AS (
        SELECT doc_id, lang, toks,
               len(toks) AS wc,
               length(array_to_string(toks, ' ')) AS nchars,
               round(list_sum(list_transform(toks, t -> length(t))) * 1.0
                     / len(toks), 6) AS mwl,
               len(list_filter(toks,
                   t -> contains(t, '#') OR contains(t, '...'))) AS symbolish,
               round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                     * 1.0 / len(toks), 6) AS alpha_frac,
               len(list_intersect(list_distinct(toks),
                   ['the','a','an','and','or','of','to','in','is','it'])) AS stops
        FROM base
    ),
    grams AS (
        SELECT doc_id, n,
               unnest(list_transform(range(1, len(toks) - n + 2),
                   i -> array_to_string(toks[i:i+n-1], ' '))) AS gram
        FROM base, (VALUES (2),(3),(4),(5)) t(n)
        WHERE len(toks) >= n
    ),
    counts AS (
        SELECT doc_id, n, gram, count(*) AS cnt FROM grams GROUP BY ALL
    ),
    pern AS (
        -- count ties resolve to the LARGEST char coverage (cnt*len), the
        -- same (count, length)-determined tie-break the Spark side uses
        SELECT doc_id, n,
               max(CASE WHEN rn = 1 THEN cnt * length(gram) END) AS top_chars,
               coalesce(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END), 0) AS dup_chars
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id, n
                ORDER BY cnt DESC, cnt * length(gram) DESC
            ) AS rn FROM counts
        ) GROUP BY doc_id, n
    ),
    fr AS (
        SELECT f.doc_id, f.lang, f.wc, f.mwl, f.symbolish, f.alpha_frac,
               f.stops,
               round(coalesce(max(CASE WHEN p.n = 2 THEN p.top_chars END)
                     * 1.0 / nullif(f.nchars, 0), 0), 6) AS top2,
               round(coalesce(max(CASE WHEN p.n = 3 THEN p.top_chars END)
                     * 1.0 / nullif(f.nchars, 0), 0), 6) AS top3,
               round(coalesce(max(CASE WHEN p.n = 4 THEN p.top_chars END)
                     * 1.0 / nullif(f.nchars, 0), 0), 6) AS top4,
               round(coalesce(max(CASE WHEN p.n = 5 THEN p.dup_chars END)
                     * 1.0 / nullif(f.nchars, 0), 0), 6) AS dup5
        FROM feat f LEFT JOIN pern p ON f.doc_id = p.doc_id
        GROUP BY f.doc_id, f.lang, f.wc, f.nchars, f.mwl, f.symbolish,
                 f.alpha_frac, f.stops
    ),
    flags AS (
        SELECT lang,
               (wc BETWEEN 50 AND 100000) AS ok_wc,
               (mwl BETWEEN 3.0 AND 10.0) AS ok_mwl,
               (symbolish * 1.0 / wc <= 0.1) AS ok_sym,
               (alpha_frac >= 0.8) AS ok_alpha,
               (stops >= 2) AS ok_stop,
               (top2 <= 0.20) AS ok_top2,
               (top3 <= 0.18) AS ok_top3,
               (top4 <= 0.16) AS ok_top4,
               (dup5 <= 0.15) AS ok_dup5,
               top2, dup5
        FROM fr
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN ok_wc AND ok_mwl AND ok_sym AND ok_alpha
                          AND ok_stop AND ok_top2 AND ok_top3 AND ok_top4
                          AND ok_dup5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
           CAST(sum(CASE WHEN NOT ok_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_count,
           CAST(sum(CASE WHEN NOT ok_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mean_word_len,
           CAST(sum(CASE WHEN NOT ok_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_symbol_ratio,
           CAST(sum(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha_words,
           CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopwords,
           CAST(sum(CASE WHEN NOT ok_top2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top2gram,
           CAST(sum(CASE WHEN NOT ok_top3 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top3gram,
           CAST(sum(CASE WHEN NOT ok_top4 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top4gram,
           CAST(sum(CASE WHEN NOT ok_dup5 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_dup5gram,
           round(avg(top2), 4) AS avg_top2_frac,
           round(avg(dup5), 4) AS avg_dup5_frac
    FROM flags GROUP BY lang ORDER BY lang
"""

# replays the 5-gram decontamination screen: distinct positional word
# 5-grams per doc, probe set = QUERY_DOC_IDS, containment join, one row
# per probe with zeros preserved
ORACLES_EXT["doc_contamination_screen"] = r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                   i -> array_to_string(toks[i:i+4], ' ')))) AS gram
        FROM toks WHERE len(toks) >= 5
    ),
    probes AS (SELECT doc_id AS probe_id, gram FROM g WHERE doc_id IN (0,1,2,3,4)),
    corpus AS (SELECT doc_id, gram FROM g WHERE doc_id NOT IN (0,1,2,3,4)),
    agg AS (
        SELECT probe_id,
               count(DISTINCT doc_id) AS n_contaminated_docs,
               CAST(count(*) AS BIGINT) AS n_shared_gram_hits
        FROM corpus JOIN probes USING (gram)
        GROUP BY probe_id
    )
    SELECT p.probe_id,
           coalesce(a.n_contaminated_docs, 0) AS n_contaminated_docs,
           coalesce(a.n_shared_gram_hits, 0) AS n_shared_gram_hits
    FROM (SELECT DISTINCT doc_id AS probe_id FROM documents
          WHERE doc_id IN (0,1,2,3,4)) p
    LEFT JOIN agg a ON p.probe_id = a.probe_id
    ORDER BY p.probe_id
"""

# replays winnow_near_dups(portable): same prints as the summary oracle,
# df-cut at 50, shared-print pair count >= 3
ORACLES_EXT["doc_winnow_near_dups"] = r"""
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 4 THEN
                   list_transform(range(1, len(toks) - 2),
                       i -> ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 15))::BIGINT)
               ELSE [('0x' || substr(md5(array_to_string(toks, ' ')), 1, 15))::BIGINT]
               END AS ghs
        FROM base
    ),
    p AS (
        SELECT doc_id,
               CASE WHEN len(ghs) >= 4 THEN
                   list_distinct(list_transform(range(1, len(ghs) - 2),
                       j -> list_min(ghs[j:j+3])))
               ELSE [list_min(ghs)] END AS prints
        FROM g
    ),
    e AS (SELECT doc_id, unnest(prints) AS pr FROM p),
    dfreq AS (SELECT pr, count(*) AS dfv FROM e GROUP BY pr),
    kept AS (SELECT e.doc_id, e.pr FROM e JOIN dfreq USING (pr) WHERE dfv <= 50)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared_prints
    FROM kept a JOIN kept b ON a.pr = b.pr AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 3
"""

# replays the quality-decile report: same composite score as
# doc_text_features, quantile_cont cut points, value-based bucket =
# 1 + #cuts strictly below the score
ORACLES_EXT["doc_quality_deciles"] = f"""
    WITH base AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    feat AS (
        SELECT doc_id, len(toks) AS n_tokens,
               round(0.4 * (len(list_distinct(toks)) * 1.0 / len(toks))
                     + 0.3 * (CASE WHEN len(toks) BETWEEN 20 AND 1000
                              THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - abs(len(list_filter(toks,
                           t -> list_contains(['the','a','an','and','or',
                           'of','to','in','is','it'], t))) * 1.0
                           / len(toks) - 0.3)) + 1e-9, 6) AS q
        FROM base
    ),
    cuts AS (
        SELECT list_transform(
                   quantile_cont(q, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                   x -> round(x, 6))
               AS cuts
        FROM feat
    ),
    b AS (
        SELECT f.doc_id, f.q, f.n_tokens,
               CAST(len(list_filter(c.cuts, x -> f.q > x)) + 1 AS INT)
                   AS decile
        FROM feat f, cuts c
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(min(q), 6) AS min_q, round(max(q), 6) AS max_q
    FROM b GROUP BY decile ORDER BY decile
"""

# replays the IQR-fence outlier screen: quantile_cont matches Spark's
# interpolated percentile (parity established by lineitem_percentiles)
ORACLES_EXT["events_value_outliers"] = r"""
    WITH fences AS (
        SELECT event_type,
               round(quantile_cont(value, 0.25), 6) AS q1,
               round(quantile_cont(value, 0.75), 6) AS q3,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    ),
    flagged AS (
        SELECT e.event_type, e.value, f.q1, f.q3, f.n_events,
               (e.value < f.q1 - 1.5 * (f.q3 - f.q1)
                OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)) AS is_out
        FROM events e JOIN fences f USING (event_type)
    )
    SELECT event_type,
           max(n_events) AS n_events,
           CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           round(min(CASE WHEN is_out THEN value END), 4)
               AS min_outlier_value,
           round(max(CASE WHEN is_out THEN value END), 4)
               AS max_outlier_value,
           round(max(q1), 4) AS q1,
           round(max(q3), 4) AS q3
    FROM flagged GROUP BY event_type ORDER BY event_type
"""

# replays the fixed-width price histogram (identical IEEE division+floor)
ORACLES_EXT["orders_price_histogram"] = r"""
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY 1 ORDER BY 1
"""

# replays scd2_history over orders: change-point lag (IS DISTINCT FROM =
# Spark's null-safe eqNullSafe negation), running regime number, regime
# collapse, lead() validity intervals
ORACLES_EXT["customer_status_scd2"] = r"""
    WITH s AS (
        SELECT o_custkey, o_orderdate, o_orderstatus, o_orderkey,
               CASE WHEN lag(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) IS DISTINCT FROM o_orderstatus THEN 1 ELSE 0 END AS chg
        FROM orders
    ),
    v AS (
        SELECT *, sum(chg) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS UNBOUNDED PRECEDING
        ) AS ver FROM s
    ),
    h AS (
        SELECT o_custkey, ver, o_orderstatus,
               min(o_orderdate) AS valid_from,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM v GROUP BY o_custkey, ver, o_orderstatus
    )
    SELECT o_custkey, CAST(ver AS BIGINT) AS version, o_orderstatus,
           valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           (lead(valid_from) OVER w2 IS NULL) AS is_current,
           n_rows
    FROM h WINDOW w2 AS (PARTITION BY o_custkey ORDER BY ver)
"""

# replays the skew profiler: per-key counts, per-type totals, top-3 keys
# by (count desc, user_id)
ORACLES_EXT["events_key_skew_profile"] = r"""
    WITH per_key AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_rows
        FROM events GROUP BY event_type, user_id
    ),
    totals AS (
        SELECT event_type, CAST(sum(n_rows) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_keys
        FROM per_key GROUP BY event_type
    ),
    top AS (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY n_rows DESC, user_id
        ) AS rnk FROM per_key
    )
    SELECT t.event_type, CAST(t.rnk AS INT) AS rnk, t.user_id, t.n_rows,
           round(t.n_rows * 1.0 / s.n_events, 6) AS share,
           round(t.n_rows * 1.0 * s.n_keys / s.n_events, 4) AS skew_x_avg,
           s.n_events, s.n_keys
    FROM top t JOIN totals s USING (event_type)
    WHERE t.rnk <= 3
    ORDER BY t.event_type, t.rnk
"""

# replays the temperature mixture: fixed-point sqrt weights (exact integer
# total), 25% budget, md5 shuffle order, quota cap at n_l
ORACLES_EXT["documents_temperature_mixture"] = r"""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_l,
               CAST(round(sqrt(count(*)) * 1e6, 0) AS BIGINT) AS w_fx
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(n_l) AS BIGINT) AS n_total,
               CAST(sum(w_fx) AS BIGINT) AS w_total
        FROM counts
    ),
    quotas AS (
        SELECT lang, n_l,
               least(n_l, CAST(ceil(round(
                   ceil(0.25 * n_total) * w_fx * 1.0 / w_total, 6
               )) AS BIGINT)) AS quota
        FROM counts, tot
    ),
    ranked AS (
        SELECT doc_id, lang, row_number() OVER (
            PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) AS rn FROM documents
    )
    SELECT r.lang, max(q.n_l) AS n_l, max(q.quota) AS quota,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(r.doc_id) AS BIGINT) AS id_checksum
    FROM ranked r JOIN quotas q USING (lang)
    WHERE r.rn <= q.quota
    GROUP BY r.lang ORDER BY r.lang
"""

# replays segment_dedup(chunk_words=20): fixed-width word chunks, global
# first-occurrence (min (doc_id, chunk)) per distinct segment, reassembly
# in chunk order, md5 of the surviving text
ORACLES_EXT["doc_segment_dedup_report"] = r"""
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    ch AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, CAST(ceil(len(toks) / 20.0) AS INT)),
                   i -> {'chunk': i,
                         'seg': array_to_string(toks[(i*20+1):(i*20+20)], ' ')}
               )) AS u
        FROM base
    ),
    segs AS (SELECT doc_id, CAST(u.chunk AS INT) AS chunk, u.seg AS seg FROM ch),
    kept AS (
        SELECT doc_id, chunk, seg FROM (
            SELECT *, row_number() OVER (
                PARTITION BY seg ORDER BY doc_id, chunk
            ) AS rn FROM segs
        ) WHERE rn = 1
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(seg, ' ' ORDER BY chunk) AS kept_text
        FROM kept GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM segs
        GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_chunks,
           coalesce(a.n_kept, 0) AS n_kept,
           CAST(length(coalesce(a.kept_text, '')) AS INT) AS n_chars_kept,
           md5(coalesce(a.kept_text, '')) AS kept_md5
    FROM totals t LEFT JOIN agg a USING (doc_id)
"""


# full replay of the PII screen: same regexes (written to mean the same
# thing in Java regex and RE2), counts on the original text, sequential
# global replace in PATTERNS order, scrubbed-content fingerprint.
ORACLES_EXT["doc_pii_screen"] = r"""
    WITH s AS (
        SELECT lang,
               length(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
               length(regexp_extract_all(text,
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
               length(regexp_extract_all(text,
                   '\+?\d[\d()./ -]{7,}\d')) AS n_phone,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                   '\+?\d[\d()./ -]{7,}\d', '<PHONE>', 'g') AS scrubbed
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
           CAST(sum(CASE WHEN n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ipv4,
           CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
           CAST(sum(n_email) AS BIGINT) AS total_emails,
           CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
           CAST(sum(n_phone) AS BIGINT) AS total_phones,
           count(DISTINCT md5(scrubbed)) AS n_distinct_scrubbed,
           CAST(sum(length(scrubbed)) AS BIGINT) AS scrubbed_chars
    FROM s GROUP BY lang ORDER BY lang
"""

# full replay of the bigram-LM perplexity filter: list-slice zip builds
# the bigrams, the same add-k model is trained and scored in SQL with
# the PORTABLE libm-free log2 fixed-point pipeline (lm.py twin).
def _lm_perplexity_oracle() -> str:
    from firebase_etl_spark.functions.portable_math import (
        LN2_LIT,
        fixed_e6_expr,
        ln_select_sql,
    )

    chain = ln_select_sql(
        "SELECT doc_id, c12, c1, v FROM bg2"
        " JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v",
        [("(2 * c12 + 1)", "__lnnum"), ("(2 * c1 + 1 * v)", "__lnden")],
    )
    lg2 = fixed_e6_expr(f"(__lnnum - __lnden) / {LN2_LIT}")
    return rf"""
    WITH tk AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
        FROM tk WHERE len(t) >= 2
    ),
    bg2 AS (
        SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bg
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg2 GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg2 GROUP BY w1),
    v AS (SELECT count(DISTINCT w2) AS v FROM bg2),
    perbg AS (
        SELECT doc_id, {lg2} AS lg2_e6 FROM ({chain})
    ),
    scored AS (
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(lg2_e6) AS BIGINT) AS __s
        FROM perbg GROUP BY doc_id
    ),
    scored2 AS (
        SELECT doc_id, n_bigrams,
               CAST(round(CAST(__s AS DOUBLE) / n_bigrams + 1e-9, 0)
                    AS BIGINT) AS avg_lg2_e6
        FROM scored
    )
    SELECT d.lang,
           count(*) AS n_docs,
           round(sum(avg_lg2_e6) / (count(*) * 1000000.0), 4)
               AS mean_score,
           min(avg_lg2_e6) / 1000000.0 AS min_score,
           max(avg_lg2_e6) / 1000000.0 AS max_score,
           CAST(sum(CASE WHEN avg_lg2_e6 < -12000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below_floor,
           CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams
    FROM documents d JOIN scored2 USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
"""


ORACLES_EXT["doc_lm_perplexity_report"] = _lm_perplexity_oracle()


def _doremi_oracle(smoothing_e6: int = 300_000) -> str:
    """DoReMi twin: the _lm_perplexity_oracle model chain through
    scored2, then the domain aggregate, the portable exp2 multiplier
    and the integer renormalize/smooth — every expression mirrored from
    lm.py:doremi_mixture_weights."""
    from firebase_etl_spark.functions.portable_math import (
        LN2_LIT,
        exp2_select_sql,
        fixed_e6_expr,
        ln_select_sql,
    )

    chain = ln_select_sql(
        "SELECT doc_id, c12, c1, v FROM bg2"
        " JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v",
        [("(2 * c12 + 1)", "__lnnum"), ("(2 * c1 + 1 * v)", "__lnden")],
    )
    lg2 = fixed_e6_expr(f"(__lnnum - __lnden) / {LN2_LIT}")
    mult_chain = exp2_select_sql(
        "SELECT * FROM base",
        [(f"(CAST(excess_e6 AS DOUBLE) / 1000000.0) / {LN2_LIT}",
          "__mult")],
    )
    c = int(smoothing_e6)
    return rf"""
    WITH tk AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
        FROM tk WHERE len(t) >= 2
    ),
    bg2 AS (
        SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bg
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg2 GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg2 GROUP BY w1),
    v AS (SELECT count(DISTINCT w2) AS v FROM bg2),
    perbg AS (
        SELECT doc_id, {lg2} AS lg2_e6 FROM ({chain})
    ),
    scored AS (
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(lg2_e6) AS BIGINT) AS __s
        FROM perbg GROUP BY doc_id
    ),
    scored2 AS (
        SELECT doc_id, n_bigrams,
               CAST(round(CAST(__s AS DOUBLE) / n_bigrams + 1e-9, 0)
                    AS BIGINT) AS avg_lg2_e6
        FROM scored
    ),
    per AS (
        SELECT d.source AS domain, count(*) AS n_docs,
               CAST(sum(s.n_bigrams) AS BIGINT) AS total_bigrams,
               CAST(sum(s.avg_lg2_e6 * s.n_bigrams) AS BIGINT) AS tot_lg2
        FROM documents d JOIN scored2 s USING (doc_id)
        GROUP BY d.source
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
               CAST(sum(tot_lg2) AS BIGINT) AS tot_all,
               CAST(sum(total_bigrams) AS BIGINT) AS nb_all
        FROM per
    ),
    base AS (
        -- excess clamped at 15.5 (documented overflow bound mirrored
        -- from lm.py:doremi_mixture_weights)
        SELECT domain, n_docs, total_bigrams,
               ((-tot_lg2) // total_bigrams) AS loss_e6,
               ((-tot_all) // nb_all) AS ref_loss_e6,
               least(CAST(15500000 AS BIGINT),
                     greatest(CAST(0 AS BIGINT),
                              ((-tot_lg2) // total_bigrams)
                              - ((-tot_all) // nb_all))) AS excess_e6,
               (n_docs * 1000000) // n_total AS baseline_e6
        FROM per CROSS JOIN tot
    ),
    w AS (
        SELECT domain, n_docs, total_bigrams, loss_e6, excess_e6,
               baseline_e6,
               CAST(round(CAST(baseline_e6 AS DOUBLE) * __mult + 1e-9, 0)
                    AS BIGINT) AS w_fx
        FROM ({mult_chain})
    ),
    t2 AS (SELECT CAST(sum(w_fx) AS BIGINT) AS sum_w FROM w)
    SELECT domain, n_docs, total_bigrams,
           CAST(loss_e6 AS BIGINT) AS loss_e6,
           CAST(excess_e6 AS BIGINT) AS excess_e6,
           CAST(baseline_e6 AS BIGINT) AS baseline_e6,
           CAST(({1_000_000 - c} * ((w_fx * 1000000) // sum_w)
                 + {c} * baseline_e6) // 1000000 AS BIGINT)
               AS doremi_weight_e6
    FROM w CROSS JOIN t2 ORDER BY domain
"""


ORACLES_EXT["documents_doremi_mixture"] = _doremi_oracle()


# replays the packing plan with the textbook single-window global cumsum
# (the formulation the Spark side deliberately avoids at scale); offsets
# and sequence indices must agree exactly with the two-phase prefix sum.
ORACLES_EXT["documents_packing_plan"] = r"""
    WITH t AS (
        SELECT doc_id,
               len(string_split_regex(lower(trim(text)), '\s+')) AS n_toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_toks,
               sum(n_toks) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_toks AS start_off
        FROM t
    ),
    s AS (
        SELECT doc_id, n_toks, start_off,
               start_off // 256 AS start_seq,
               (start_off + n_toks - 1) // 256 AS end_seq
        FROM c
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(max(end_seq) + 1 AS BIGINT) AS n_sequences,
           CAST(sum(CASE WHEN end_seq > start_seq THEN 1 ELSE 0 END) AS BIGINT)
               AS n_split_docs,
           CAST(max(n_toks) AS BIGINT) AS max_doc_tokens,
           round(CAST(sum(n_toks) AS DOUBLE) / ((max(end_seq) + 1) * 256), 6)
               AS fill_ratio
    FROM s
"""


# semantic keep-best: the embedding CC closure (same CTEs as
# embedding_dedup_clusters) + the quality replay (same feat expression as
# doc_quality_deciles) + a window election of the survivor per cluster.
ORACLES_EXT["documents_semantic_keep_best"] = f"""
    WITH nv AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                               CAST(embedding AS DOUBLE[])))) AS ve
        FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM nv a JOIN nv b ON a.vec_id < b.vec_id
        WHERE round(list_inner_product(a.ve, b.ve), 6) >= 0.4
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), walk AS (
        WITH RECURSIVE r(node, label) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, r.label FROM r JOIN edges e ON r.node = e.u
        )
        SELECT node, min(label) AS component FROM r GROUP BY node
    ), base AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), feat AS (
        SELECT doc_id, len(toks) AS n_tokens,
               round(0.4 * (len(list_distinct(toks)) * 1.0 / len(toks))
                     + 0.3 * (CASE WHEN len(toks) BETWEEN 20 AND 1000
                              THEN 1.0 ELSE 0.5 END)
                     + 0.3 * (1.0 - abs(len(list_filter(toks,
                           t -> list_contains(['the','a','an','and','or',
                           'of','to','in','is','it'], t))) * 1.0
                           / len(toks) - 0.3)) + 1e-9, 6) AS q
        FROM base
    ), comp AS (
        SELECT f.doc_id, f.q, f.n_tokens,
               coalesce(w.component, f.doc_id) AS component
        FROM feat f LEFT JOIN walk w ON f.doc_id = w.node
    ), elected AS (
        SELECT doc_id, q, n_tokens, component,
               row_number() OVER (PARTITION BY component
                                  ORDER BY q DESC, doc_id) AS rn
        FROM comp
    )
    SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN rn = 1 THEN n_tokens END) AS BIGINT) AS tokens_kept,
           CAST(coalesce(sum(CASE WHEN rn > 1 THEN n_tokens END), 0) AS BIGINT)
               AS tokens_dropped,
           CAST(sum(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_id_sum
    FROM elected
"""


def _bpe_oracle(n_merges: int = 10, passes: int = 6) -> str:
    """Generated replay of bpe_train: one CTE layer per merge round
    (pair counts -> argmax -> bounded-pass replace), mirroring
    operators/bpe.py REPLACE_PASSES exactly."""
    layers = [r"""w0 AS MATERIALIZED (
        SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' </w> ' AS seq,
               cnt
        FROM (SELECT w, count(*) AS cnt
              FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
                    FROM documents)
              GROUP BY w)
    )"""]
    for i in range(n_merges):
        layers.append(f"""p{i} AS MATERIALIZED (
        SELECT z[1] AS a, z[2] AS b, sum(cnt) AS n
        FROM (SELECT unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS z, cnt
              FROM (SELECT string_split(trim(seq), ' ') AS arr, cnt FROM w{i}))
        GROUP BY a, b
    ),
    t{i} AS (SELECT a, b, CAST(n AS BIGINT) AS n FROM p{i}
             ORDER BY n DESC, a, b LIMIT 1)""")
        if i < n_merges - 1:
            rep = "seq"
            for _ in range(passes):
                rep = (
                    f"replace({rep}, ' '||(SELECT a FROM t{i})||' '||"
                    f"(SELECT b FROM t{i})||' ', ' '||(SELECT a FROM t{i})||"
                    f"(SELECT b FROM t{i})||' ')"
                )
            layers.append(
                f"w{i + 1} AS MATERIALIZED (SELECT {rep} AS seq, cnt FROM w{i})"
            )
    union = "\n        UNION ALL ".join(
        f"SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym, "
        f"n AS pair_count FROM t{i}"
        for i in range(n_merges)
    )
    return (
        "WITH "
        + ",\n    ".join(layers)
        + f"\n    SELECT * FROM ({union}) ORDER BY merge_rank"
    )


ORACLES_EXT["documents_bpe_merges"] = _bpe_oracle()


ORACLES_EXT["events_funnel_report"] = """
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    v AS (SELECT user_id, min(us) AS t_view FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.us) AS t_click
          FROM ev e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.us > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.us) AS t_purchase
          FROM ev e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.us > c.t_click
          GROUP BY e.user_id)
    SELECT count(*) AS n_view,
           count(t_click) AS n_click_after_view,
           count(t_purchase) AS n_purchase_after_click,
           round(count(t_click) * 1.0 / count(*), 6) AS view_to_click,
           round(count(t_purchase) * 1.0 / count(t_click), 6)
               AS click_to_purchase
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""

ORACLES_EXT["user_retention_cohorts"] = """
    WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
           CAST((epoch_us(date_trunc('week', e.ts))
                 - epoch_us(f.cohort_week)) // 604800000000 AS BIGINT)
               AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
"""


ORACLES_EXT["customer_rfm_segments"] = """
    WITH per_c AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
                   AS recency_days,
               count(*) AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT list_transform(quantile_cont(recency_days, [0.25, 0.5, 0.75]),
                              x -> round(x, 6)) AS rc,
               list_transform(quantile_cont(frequency, [0.25, 0.5, 0.75]),
                              x -> round(x, 6)) AS fc,
               list_transform(quantile_cont(monetary, [0.25, 0.5, 0.75]),
                              x -> round(x, 6)) AS mc
        FROM per_c
    ),
    seg AS (
        SELECT CAST(len(list_filter(c.rc, x -> p.recency_days > x)) + 1 AS INT) AS r,
               CAST(len(list_filter(c.fc, x -> p.frequency > x)) + 1 AS INT) AS f,
               CAST(len(list_filter(c.mc, x -> p.monetary > x)) + 1 AS INT) AS m
        FROM per_c p, cuts c
    )
    SELECT r, f, m, count(*) AS n_customers
    FROM seg GROUP BY r, f, m ORDER BY r, f, m
"""

ORACLES_EXT["events_rate_anomalies"] = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hh, count(*) AS n
        FROM events GROUP BY event_type, hh
    ),
    stats AS (
        SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sigma,
               count(*) AS n_hours
        FROM hourly GROUP BY event_type
    ),
    j AS (
        SELECT h.event_type, h.n, s.mu, s.sigma, s.n_hours,
               abs(h.n - s.mu) > 3 * s.sigma AS is_anom
        FROM hourly h JOIN stats s USING (event_type)
    )
    SELECT event_type,
           CAST(max(n_hours) AS BIGINT) AS n_hours,
           round(max(mu), 4) AS mean_hourly,
           round(max(sigma), 4) AS sd_hourly,
           CAST(sum(CASE WHEN is_anom THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anomalous_hours,
           CAST(max(CASE WHEN is_anom THEN n END) AS BIGINT)
               AS worst_hour_count
    FROM j GROUP BY event_type ORDER BY event_type
"""


def _entropy_oracle() -> str:
    """Char-entropy twin over the PORTABLE libm-free log2 fixed-point
    pipeline (queries_ext.doc_entropy_report twin)."""
    from firebase_etl_spark.functions.portable_math import (
        LN2_LIT,
        fixed_e6_expr,
        ln_select_sql,
    )

    c_chain = ln_select_sql(
        "SELECT doc_id, lang, ch, c FROM counts", [("c", "__lnc")]
    )
    n_chain = ln_select_sql(
        "SELECT * FROM agg", [("__n", "__lnn")]
    )
    clg2 = fixed_e6_expr(f"(c * __lnc) / {LN2_LIT}")
    ent = fixed_e6_expr(
        f"__lnn / {LN2_LIT} - (CAST(__s AS DOUBLE) / 1000000.0) / __n"
    )
    return f"""
    WITH ch AS (
        SELECT doc_id, lang, unnest(string_split(text, '')) AS ch
        FROM documents
    ),
    counts AS (
        SELECT doc_id, lang, ch, count(*) AS c
        FROM ch GROUP BY doc_id, lang, ch
    ),
    agg AS (
        SELECT doc_id, lang,
               CAST(sum(c) AS BIGINT) AS __n,
               CAST(sum({clg2}) AS BIGINT) AS __s
        FROM ({c_chain}) GROUP BY doc_id, lang
    ),
    per_doc AS (
        SELECT doc_id, lang, {ent} AS ent_e6
        FROM ({n_chain})
    )
    SELECT lang,
           count(*) AS n_docs,
           round(sum(ent_e6) / (count(*) * 1000000.0), 4) AS avg_entropy,
           min(ent_e6) / 1000000.0 AS min_entropy,
           max(ent_e6) / 1000000.0 AS max_entropy,
           CAST(sum(CASE WHEN ent_e6 < 2500000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_entropy
    FROM per_doc GROUP BY lang ORDER BY lang
"""


ORACLES_EXT["doc_entropy_report"] = _entropy_oracle()


ORACLES_EXT["embedding_filtered_topk"] = """
    WITH nv AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                               CAST(embedding AS DOUBLE[])))) AS v
        FROM embeddings
    ),
    probes AS (
        SELECT vec_id AS query_id, v AS q FROM nv WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    eligible AS (
        SELECT nv.vec_id, nv.v FROM nv
        JOIN documents d ON nv.vec_id = d.doc_id AND d.lang = 'en'
    ),
    sims AS (
        SELECT p.query_id, e.vec_id,
               round(list_inner_product(e.v, p.q), 6) AS cosine_sim
        FROM eligible e CROSS JOIN probes p
        WHERE e.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id
        ) AS rank
        FROM sims
    )
    SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


# --- round-3 additions: linkage, pagerank, splits, BPE encode --------------

ORACLES_EXT["customer_fuzzy_matches"] = r"""
    WITH probes AS (
        SELECT c_custkey AS probe_id,
               substr(c_name, 1, CAST(10 + c_custkey % 8 AS INT) - 1) ||
               substr(c_name, CAST(10 + c_custkey % 8 AS INT) + 1) AS probe_name
        FROM customer WHERE c_custkey % 40 = 7
    ),
    targets AS (
        SELECT c_custkey AS target_id, c_name AS target_name FROM customer
    ),
    pz AS (SELECT probe_id, substr(probe_name, 10, 9) AS zone FROM probes),
    tz AS (SELECT target_id, substr(target_name, 10, 9) AS zone FROM targets),
    pv AS (
        SELECT probe_id,
               unnest(list_distinct(list_append(
                   list_transform(generate_series(1, length(zone)),
                       i -> substr(zone, 1, CAST(i AS INT) - 1)
                            || substr(zone, CAST(i AS INT) + 1)),
                   zone))) AS variant
        FROM pz
    ),
    tv AS (
        SELECT target_id,
               unnest(list_distinct(list_append(
                   list_transform(generate_series(1, length(zone)),
                       i -> substr(zone, 1, CAST(i AS INT) - 1)
                            || substr(zone, CAST(i AS INT) + 1)),
                   zone))) AS variant
        FROM tz
    ),
    cand AS (
        SELECT DISTINCT probe_id, target_id
        FROM pv JOIN tv USING (variant)
    ),
    verified AS (
        SELECT c.probe_id, p.probe_name, c.target_id, t.target_name,
               levenshtein(p.probe_name, t.target_name) AS distance
        FROM cand c
        JOIN probes p USING (probe_id)
        JOIN targets t USING (target_id)
    ),
    elected AS (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY distance, target_id
        ) AS rn
        FROM verified WHERE distance <= 1
    )
    SELECT probe_id, probe_name, target_id AS matched_id,
           CAST(distance AS BIGINT) AS distance,
           (target_id = probe_id) AS matched_self
    FROM elected WHERE rn = 1 ORDER BY probe_id
"""


def _fellegi_sunter_oracle(
    t_hi_e6: int = 10_000_000, t_lo_e6: int = 0
) -> str:
    """F-S twin: the customer_fuzzy_matches blocking replay + exact
    frequency-table u-estimates + the identical portable-ln rational
    weights (m = 19/20; name-comparator u = 1/10000), quantized to e6
    and integer-summed per pair, banded by the same thresholds."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )

    ln_pairs = []
    for fld in ("nat", "seg", "cc"):
        ln_pairs += [
            (f"(19 * ud_{fld})", f"__ln_a1_{fld}"),
            (f"(20 * un_{fld})", f"__ln_a2_{fld}"),
            (f"(1 * ud_{fld})", f"__ln_d1_{fld}"),
            (f"(20 * (ud_{fld} - un_{fld}))", f"__ln_d2_{fld}"),
        ]
    ln_pairs += [
        ("(19 * 10000)", "__ln_a1_name"),
        ("(20 * 1)", "__ln_a2_name"),
        ("(1 * 10000)", "__ln_d1_name"),
        ("(20 * 9999)", "__ln_d2_name"),
    ]
    chain = ln_select_sql("SELECT * FROM wraw", ln_pairs)
    wcols = ", ".join(
        f"{fixed_e6_expr(f'__ln_a1_{fld} - __ln_a2_{fld}')} AS aw_{fld},"
        f" {fixed_e6_expr(f'__ln_d1_{fld} - __ln_d2_{fld}')} AS dw_{fld}"
        for fld in ("nat", "seg", "cc", "name")
    )
    return f"""
    WITH probes AS MATERIALIZED (
        SELECT c_custkey AS probe_id,
               substr(c_name, 1, CAST(10 + c_custkey % 8 AS INT) - 1) ||
               substr(c_name, CAST(10 + c_custkey % 8 AS INT) + 1)
                   AS probe_name,
               c_nationkey AS p_nat, c_mktsegment AS p_seg,
               CAST(floor(c_acctbal / 1000.0) AS INTEGER) AS p_cc
        FROM customer WHERE c_custkey % 40 = 7),
    targets AS MATERIALIZED (
        SELECT c_custkey AS target_id, c_name AS target_name,
               c_nationkey AS t_nat, c_mktsegment AS t_seg,
               CAST(floor(c_acctbal / 1000.0) AS INTEGER) AS t_cc
        FROM customer),
    pz AS (SELECT probe_id, substr(probe_name, 10, 9) AS zone
           FROM probes),
    tz AS (SELECT target_id, substr(target_name, 10, 9) AS zone
           FROM targets),
    pv AS (
        SELECT probe_id,
               unnest(list_distinct(list_append(
                   list_transform(generate_series(1, length(zone)),
                       i -> substr(zone, 1, CAST(i AS INT) - 1)
                            || substr(zone, CAST(i AS INT) + 1)),
                   zone))) AS variant
        FROM pz),
    tv AS (
        SELECT target_id,
               unnest(list_distinct(list_append(
                   list_transform(generate_series(1, length(zone)),
                       i -> substr(zone, 1, CAST(i AS INT) - 1)
                            || substr(zone, CAST(i AS INT) + 1)),
                   zone))) AS variant
        FROM tz),
    cand AS (
        SELECT DISTINCT probe_id, target_id
        FROM pv JOIN tv USING (variant)),
    unat AS (
        SELECT greatest(CAST(sum(c * (c - 1)) AS BIGINT), 1) AS un_nat,
               CAST(sum(c) * (sum(c) - 1) AS BIGINT) AS ud_nat
        FROM (SELECT count(*) AS c FROM targets GROUP BY t_nat)),
    useg AS (
        SELECT greatest(CAST(sum(c * (c - 1)) AS BIGINT), 1) AS un_seg,
               CAST(sum(c) * (sum(c) - 1) AS BIGINT) AS ud_seg
        FROM (SELECT count(*) AS c FROM targets GROUP BY t_seg)),
    ucc AS (
        SELECT greatest(CAST(sum(c * (c - 1)) AS BIGINT), 1) AS un_cc,
               CAST(sum(c) * (sum(c) - 1) AS BIGINT) AS ud_cc
        FROM (SELECT count(*) AS c FROM targets GROUP BY t_cc)),
    wraw AS (SELECT * FROM unat, useg, ucc),
    wts AS MATERIALIZED (SELECT {wcols} FROM ({chain})),
    pairs AS (
        SELECT c.probe_id, c.target_id,
               (CASE WHEN levenshtein(p.probe_name, t.target_name) <= 1
                     THEN aw_name ELSE dw_name END
                + CASE WHEN p.p_nat = t.t_nat
                       THEN aw_nat ELSE dw_nat END
                + CASE WHEN p.p_seg = t.t_seg
                       THEN aw_seg ELSE dw_seg END
                + CASE WHEN p.p_cc = t.t_cc
                       THEN aw_cc ELSE dw_cc END) AS score_e6
        FROM cand c
        JOIN probes p USING (probe_id)
        JOIN targets t USING (target_id), wts)
    SELECT CASE WHEN score_e6 >= {t_hi_e6} THEN 'match'
                WHEN score_e6 >= {t_lo_e6} THEN 'possible'
                ELSE 'non_match' END AS band,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN probe_id = target_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_match,
           CAST(sum(score_e6) AS BIGINT) AS sum_score_e6,
           min(score_e6) AS min_score_e6,
           max(score_e6) AS max_score_e6
    FROM pairs GROUP BY 1 ORDER BY band
"""


ORACLES_EXT["customer_fs_linkage"] = _fellegi_sunter_oracle()


def _pagerank_oracle(n_iter: int = 10, damping_pct: int = 85, seeds=None) -> str:
    """Generated replay of operators/graph.py:pagerank on the nation trade
    graph: one CTE layer per iteration, all fixed-point BIGINT arithmetic
    (DuckDB's ``//`` == Spark's ``div`` for positive operands), so the
    trajectory is bit-exact across engines."""
    layers = [
        """edges AS MATERIALIZED (
        SELECT CAST(c.c_nationkey AS BIGINT) AS src,
               CAST(s.s_nationkey AS BIGINT) AS dst,
               count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    ew AS MATERIALIZED (
        SELECT e.src, e.dst, e.w, t.w_out
        FROM edges e
        JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS w_out
              FROM edges GROUP BY src) t USING (src)
    ),
    nodes AS MATERIALIZED (
        SELECT src AS node FROM edges
        UNION
        SELECT dst AS node FROM edges
    ),
    const AS (
        SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r0,
               CAST((1000000000000 // count(*)) * %d // 100 AS BIGINT) AS tp
        FROM nodes
    ),
    pr0 AS (SELECT node, (SELECT r0 FROM const) AS rank FROM nodes)"""
        % (100 - damping_pct)
    ]
    for i in range(n_iter):
        if seeds:
            t_seed = (10**12 // len(seeds)) * (100 - damping_pct) // 100
            seed_list = ", ".join(str(s) for s in sorted(seeds))
            tp_expr = (
                f"CASE WHEN n.node IN ({seed_list}) "
                f"THEN CAST({t_seed} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            )
        else:
            tp_expr = "(SELECT tp FROM const)"
        layers.append(
            f"""pr{i + 1} AS (
        SELECT n.node,
               {tp_expr}
                   + CAST({damping_pct} * coalesce(s.incoming, 0) // 100 AS BIGINT)
                   AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst, CAST(sum(p.rank * e.w // e.w_out) AS BIGINT) AS incoming
            FROM pr{i} p JOIN ew e ON p.node = e.src
            GROUP BY e.dst
        ) s ON n.node = s.dst
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(layers)
        + f"""
    SELECT nn.n_name AS nation, CAST(p.rank AS BIGINT) AS rank_e12
    FROM pr{n_iter} p JOIN nation nn ON p.node = nn.n_nationkey
    ORDER BY rank_e12 DESC, nation"""
    )


ORACLES_EXT["nation_trade_pagerank"] = _pagerank_oracle()
# personalized variant: teleport mass restricted to the four seed nations
# (keys 0, 7, 14, 21 — the query's literal seed set)
ORACLES_EXT["nation_trade_ppr"] = _pagerank_oracle(seeds=(0, 7, 14, 21))

# thresholds mirror queries_ext.SPLIT_T_TRAIN/SPLIT_T_VAL (integer 90% / 95%
# of 2^60 — exact literals on both engines)
_SPLIT_T_TRAIN = (1 << 60) * 90 // 100
_SPLIT_T_VAL = (1 << 60) * 95 // 100

ORACLES_EXT["documents_split_assignment"] = f"""
    WITH u AS (
        SELECT doc_id, lang, n_chars,
               ('0x' || substr(md5(text), 1, 15))::BIGINT AS u
        FROM documents
    )
    SELECT lang,
           CASE WHEN u < {_SPLIT_T_TRAIN} THEN 'train'
                WHEN u < {_SPLIT_T_VAL} THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS chars_total
    FROM u GROUP BY lang, split ORDER BY lang, split
"""


def _bpe_encode_oracle(n_merges: int = 10, passes: int = 6) -> str:
    """Generated replay of bpe_vocab + the per-document token-stats join:
    the _bpe_oracle training layers (with the word column carried through
    and the replace layer applied after EVERY merge, including the last),
    then vocabulary token counts and the document join."""
    layers = [
        r"""w0 AS MATERIALIZED (
        SELECT w,
               ' ' || array_to_string(string_split(w, ''), ' ') || ' </w> ' AS seq,
               cnt
        FROM (SELECT w, count(*) AS cnt
              FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
                    FROM documents)
              GROUP BY w)
    )"""
    ]
    for i in range(n_merges):
        layers.append(
            f"""p{i} AS MATERIALIZED (
        SELECT z[1] AS a, z[2] AS b, sum(cnt) AS n
        FROM (SELECT unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS z, cnt
              FROM (SELECT string_split(trim(seq), ' ') AS arr, cnt FROM w{i}))
        GROUP BY a, b
    ),
    t{i} AS (SELECT a, b FROM p{i} ORDER BY n DESC, a, b LIMIT 1)"""
        )
        rep = "seq"
        for _ in range(passes):
            rep = (
                f"replace({rep}, ' '||(SELECT a FROM t{i})||' '||"
                f"(SELECT b FROM t{i})||' ', ' '||(SELECT a FROM t{i})||"
                f"(SELECT b FROM t{i})||' ')"
            )
        layers.append(
            f"w{i + 1} AS MATERIALIZED (SELECT w, {rep} AS seq, cnt FROM w{i})"
        )
    return (
        "WITH "
        + ",\n    ".join(layers)
        + f""",
    vocab AS (
        SELECT w, len(string_split(trim(seq), ' ')) AS n_tok FROM w{n_merges}
    ),
    dw AS (
        SELECT doc_id, lang, n_chars,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ),
    pd AS (
        SELECT doc_id, lang, n_chars,
               count(*) AS ws_tokens, sum(n_tok) AS bpe_tokens
        FROM dw JOIN vocab USING (w)
        GROUP BY doc_id, lang, n_chars
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_chars) AS BIGINT) AS chars_total
    FROM pd GROUP BY lang ORDER BY lang
"""
    )


ORACLES_EXT["documents_bpe_encoded_stats"] = _bpe_encode_oracle()


ORACLES_EXT["referential_integrity_audit"] = """
    SELECT check_name,
           CAST(violations AS BIGINT) AS violations,
           CAST(n_checked AS BIGINT) AS n_checked
    FROM (
        SELECT 'pk_customer_duplicate_keys' AS check_name,
               (SELECT count(*) FROM (
                   SELECT c_custkey FROM customer
                   GROUP BY c_custkey HAVING count(*) > 1)) AS violations,
               (SELECT count(*) FROM customer) AS n_checked
        UNION ALL
        SELECT 'pk_orders_duplicate_keys',
               (SELECT count(*) FROM (
                   SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING count(*) > 1)),
               (SELECT count(*) FROM orders)
        UNION ALL
        SELECT 'fk_orders_custkey_orphans',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)),
               (SELECT count(*) FROM orders)
        UNION ALL
        SELECT 'fk_lineitem_orderkey_orphans',
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)),
               (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'fk_lineitem_suppkey_orphans',
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey)),
               (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'nn_orders_custkey_nulls',
               (SELECT coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1
                                         ELSE 0 END), 0) FROM orders),
               (SELECT count(*) FROM orders)
    ) ORDER BY check_name
"""


ORACLES_EXT["segment_priority_chisq"] = """
    WITH cells AS (
        SELECT c_mktsegment, o_orderpriority, count(*) AS obs
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    rt AS (SELECT c_mktsegment, CAST(sum(obs) AS BIGINT) AS rt
           FROM cells GROUP BY 1),
    ct AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) AS ct
           FROM cells GROUP BY 1),
    nt AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
    contrib AS (
        SELECT cells.obs,
               cells.c_mktsegment,
               cells.o_orderpriority,
               nt.n,
               CAST(round(
                   (CAST(obs AS DOUBLE)
                        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                          / CAST(n AS DOUBLE))
                   * (CAST(obs AS DOUBLE)
                        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                          / CAST(n AS DOUBLE))
                   / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                          / CAST(n AS DOUBLE))
                   * 1000000.0 + 1e-9,
                   0) AS BIGINT) AS contrib_e6
        FROM cells
        JOIN rt USING (c_mktsegment)
        JOIN ct USING (o_orderpriority)
        CROSS JOIN nt
    )
    SELECT count(*) AS n_cells,
           CAST((count(DISTINCT c_mktsegment) - 1)
                * (count(DISTINCT o_orderpriority) - 1) AS BIGINT) AS dof,
           CAST(sum(contrib_e6) AS BIGINT) AS chi2_e6,
           CAST(max(n) AS BIGINT) AS n_orders
    FROM contrib
"""


ORACLES_EXT["orders_priority_unpivot"] = """
    SELECT year(o_orderdate) AS order_year,
           o_orderpriority AS priority,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# 3-gram twin of word_shingles(3): range(1, len-1) drops partial trailing
# shingles exactly like the zip_with null-propagation; per-doc
# list_distinct matches array_distinct.
ORACLES_EXT["documents_decontamination"] = r"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), g AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS gram
        FROM toks
    ), probe AS (
        SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
    ), ov AS (
        SELECT doc_id, count(*) AS overlap
        FROM g JOIN probe USING (gram)
        WHERE doc_id % 97 <> 0
        GROUP BY doc_id
    ), docs AS (
        SELECT d.source, coalesce(ov.overlap, 0) AS overlap
        FROM documents d LEFT JOIN ov USING (doc_id)
        WHERE d.doc_id % 97 <> 0
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN overlap >= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(max(overlap) AS BIGINT) AS max_overlap,
           CAST(sum(overlap) AS BIGINT) AS total_overlap,
           round(avg(CAST(overlap >= 1 AS INT)), 6) AS contamination_rate
    FROM docs GROUP BY source ORDER BY source
"""


ORACLES_EXT["events_gapfill_hourly"] = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS n_events, avg(value) AS avg_value
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, min(hour) AS h0, max(hour) AS h1
        FROM hourly GROUP BY 1
    ), spine AS (
        SELECT event_type,
               unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ), dense AS (
        SELECT s.event_type, s.hour,
               coalesce(h.n_events, 0) AS n_events,
               h.n_events IS NULL AS is_gap,
               last_value(h.avg_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_locf
        FROM spine s LEFT JOIN hourly h USING (event_type, hour)
    )
    SELECT event_type, count(*) AS n_hours,
           CAST(sum(CASE WHEN is_gap THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gap_hours,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           round(coalesce(sum(CASE WHEN is_gap THEN value_locf END), 0.0), 2)
               AS locf_checksum,
           round(avg(CAST(is_gap AS INT)), 6) AS gap_rate
    FROM dense GROUP BY event_type ORDER BY event_type
"""


# 8-gram twin of word_shingles(8): range(1, len-6) == positions with a
# full 8-token window.
ORACLES_EXT["doc_boilerplate_ngrams"] = r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(tk) - 6),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                        tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' ||
                        tk[i+6] || ' ' || tk[i+7]))) AS gram
        FROM toks
    ), dfc AS (
        SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram
    )
    SELECT (SELECT count(*) FROM dfc) AS n_grams_total,
           (SELECT CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            FROM dfc) AS n_boilerplate_grams,
           (SELECT CAST(max(df) AS BIGINT) FROM dfc) AS max_doc_frequency,
           (SELECT count(DISTINCT doc_id) FROM g
            WHERE gram IN (SELECT gram FROM dfc WHERE df >= 2))
               AS n_docs_affected
"""


def _rp_topk_oracle() -> str:
    """Generated replay of similarity.py:rp_topk with the fixed seed-13
    JL-scaled 32x64 plane matrix (entries N(0, 1/32); double literals
    repr-round-trip exactly, and list_inner_product sums left-to-right like
    the plan's dot_unrolled): normalize, project, shortlist 80 by
    6dp-rounded projected cosine with vec_id tiebreak, exact re-rank
    top 10. The plane literals are emitted from the SAME rp_planes() call
    the Spark plan uses, so the two sides can never drift."""
    from firebase_etl_spark.operators.similarity import rp_planes

    planes = rp_planes(out_dim=32, in_dim=64, seed=13)
    proj_cols = ",\n                  ".join(
        "list_inner_product(nv, [%s])" % ", ".join(repr(x) for x in row)
        for row in planes
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    nv_t AS (SELECT vec_id,
                    list_transform(e, x -> x / sqrt(list_inner_product(e, e))) AS nv
             FROM v),
    rp AS (SELECT vec_id,
                  [{proj_cols}] AS p
           FROM nv_t),
    probes AS (SELECT vec_id AS query_id, p AS qp FROM rp WHERE vec_id IN (0,1,2,3,4)),
    scored AS (
        SELECT query_id, vec_id, round(list_inner_product(p, qp), 6) AS proj_sim
        FROM rp CROSS JOIN probes WHERE vec_id <> query_id
    ),
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY proj_sim DESC, vec_id) AS r
            FROM scored) WHERE r <= 80
    ),
    pv AS (SELECT vec_id AS query_id, nv AS q FROM nv_t WHERE vec_id IN (0,1,2,3,4)),
    exact AS (
        SELECT s.query_id, s.vec_id,
               round(list_inner_product(n.nv, pv.q), 6) AS cosine_sim
        FROM shortlist s JOIN nv_t n USING (vec_id) JOIN pv ON s.query_id = pv.query_id
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
        FROM exact) WHERE rank <= 10
"""


ORACLES_EXT["embedding_topk_rp"] = _rp_topk_oracle()


# Shared synthetic-PARTSUPP CTE: replays plans/queries.py:synth_partsupp
# exactly — observed (l_partkey, l_suppkey) pairs UNION a 4-per-part
# catalog baseline, value columns pure integer arithmetic on the key pair.
_PARTSUPP_CTE = """
    s_cnt AS (SELECT count(*) AS c FROM supplier),
    ps_base AS (
        SELECT p_partkey AS ps_partkey,
               (p_partkey + j * CAST(floor(c / 4) AS BIGINT)) % c AS ps_suppkey
        FROM part CROSS JOIN s_cnt CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)),
    ps_pairs AS (
        SELECT DISTINCT ps_partkey, ps_suppkey FROM (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem
            UNION ALL SELECT ps_partkey, ps_suppkey FROM ps_base)),
    partsupp AS (
        SELECT ps_partkey, ps_suppkey,
               CAST((ps_partkey * 13 + ps_suppkey * 7) % 9999 + 1 AS INTEGER) AS ps_availqty,
               ((ps_partkey * 29 + ps_suppkey * 17) % 80000 + 10000) / 100.0 AS ps_supplycost
        FROM ps_pairs)
"""

ORACLES_EXT["q2_min_cost_supplier"] = f"""
    WITH {_PARTSUPP_CTE},
    eu AS (
        SELECT ps.ps_partkey, ps.ps_supplycost, s.s_acctbal, s.s_name, n.n_name
        FROM partsupp ps
        JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'),
    mc AS (SELECT ps_partkey, min(ps_supplycost) AS min_cost FROM eu GROUP BY 1)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           ps_supplycost AS supplycost
    FROM part JOIN eu ON p_partkey = eu.ps_partkey JOIN mc USING (ps_partkey)
    WHERE p_size = 15 AND p_type LIKE 'ECO%' AND ps_supplycost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""

ORACLES_EXT["q9_product_type_profit"] = f"""
    WITH {_PARTSUPP_CTE}
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - ps_supplycost * l_quantity), 2) AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_name LIKE 'red%'
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""

ORACLES_EXT["q11_important_stock"] = f"""
    WITH {_PARTSUPP_CTE},
    nat AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'),
    pv AS (
        SELECT ps_partkey,
               round(sum(ps_supplycost * ps_availqty), 2) AS part_value
        FROM partsupp JOIN nat ON ps_suppkey = s_suppkey GROUP BY 1),
    tot AS (SELECT round(sum(part_value) * 0.001, 2) AS thr FROM pv)
    SELECT ps_partkey, part_value FROM pv CROSS JOIN tot
    WHERE part_value > thr ORDER BY part_value DESC, ps_partkey
"""

ORACLES_EXT["q16_supplier_part_counts"] = f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'SMALL%'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

ORACLES_EXT["q20_excess_stock_suppliers"] = f"""
    WITH {_PARTSUPP_CTE},
    shipped AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2),
    excess AS (
        SELECT DISTINCT ps_suppkey FROM partsupp
        JOIN part ON p_partkey = ps_partkey AND p_name LIKE 'blue%'
        JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        WHERE ps_availqty > 0.5 * qty)
    SELECT s_name FROM supplier
    JOIN excess ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3' ORDER BY s_name
"""


def _dsir_scores_with() -> str:
    """Shared WITH prefix (toks → counts → tot → ratio → scores) for
    the DSIR weights oracle and its per-doc diagnostics — one
    definition so the report and its fingerprints can never drift."""
    from firebase_etl_spark.functions.portable_math import (
        ln_select_sql,
        lr_e6_expr,
    )

    chain = ln_select_sql(
        "SELECT w, c_src, c_tgt, s_tot, t_tot, v"
        " FROM counts CROSS JOIN tot",
        [
            ("(c_tgt + 1)", "__lnct"),
            ("(c_src + 1)", "__lncs"),
            ("(t_tot + v)", "__lndt"),
            ("(s_tot + v)", "__lnds"),
        ],
    )
    lr = lr_e6_expr("__lnct", "__lndt", "__lncs", "__lnds")
    return f"""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents),
    counts AS (
        SELECT w, count(*) AS c_src,
               sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
        FROM toks GROUP BY w),
    tot AS (SELECT sum(c_src) AS s_tot, sum(c_tgt) AS t_tot,
                   count(*) AS v FROM counts),
    ratio AS (
        -- per-vocab-row FIXED-POINT log-ratio over PORTABLE lns:
        -- rounded to a 1e-6-unit BIGINT once, so per-doc weights are
        -- associative integer sums, and the doubles being rounded are
        -- bit-identical across engines by construction
        SELECT w, {lr} AS lr_e6
        FROM ({chain})),
    scores AS (
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(lr_e6) AS BIGINT) AS lw_e6
        FROM toks JOIN ratio USING (w) GROUP BY doc_id)"""


def _dsir_oracle() -> str:
    """DSIR twin with the PORTABLE libm-free ln (portable_math.py): the
    ratio CTE applies the exact step chain the Spark plan runs — JVM
    Math.log vs DuckDB ln ulp divergence flipped the 1e-6 BIGINT on
    the driver host in rounds 4 AND 5 (the query passed against the
    local DuckDB build, failed on the driver's), so neither side may
    call a libm ln at all."""
    return _dsir_scores_with() + """,
    agg AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(lw_e6) AS BIGINT) AS sum_weight_e6,
               min(lw_e6) AS min_weight_e6,
               max(lw_e6) AS max_weight_e6,
               CAST(sum(CASE WHEN lw_e6 > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_target_like,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM documents JOIN scores USING (doc_id)
        GROUP BY lang)
    -- INTEGERS ONLY in the hashed row (r7): the mean is an e4
    -- fixed-point BIGINT by half-away-from-zero integer division on
    -- the magnitude (non-negative dividend: DuckDB's flooring // and
    -- Spark's truncating DIV agree exactly); no double arithmetic
    -- anywhere in the output
    SELECT lang, n_docs, sum_weight_e6,
           CAST(CASE WHEN sum_weight_e6 < 0
                THEN -((2 * (-sum_weight_e6) + n_docs * 100)
                       // (2 * n_docs * 100))
                ELSE (2 * sum_weight_e6 + n_docs * 100)
                     // (2 * n_docs * 100) END AS BIGINT) AS mean_weight_e4,
           min_weight_e6, max_weight_e6, n_target_like, total_tokens
    FROM agg ORDER BY lang
"""


ORACLES_EXT["documents_dsir_weights"] = _dsir_oracle()


ORACLES_EXT["dsir_diag_tokens"] = """
    WITH toks AS (
        SELECT lang,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents)
    SELECT lang, substr(md5(w), 1, 1) AS bucket,
           count(*) AS n_tokens,
           count(DISTINCT w) AS n_distinct_tokens,
           CAST(sum(length(w)) AS BIGINT) AS sum_token_len
    FROM toks GROUP BY lang, bucket ORDER BY lang, bucket
"""


def _dsir_diag_model_oracle() -> str:
    """Vocab-model diagnostic twin: the exact _dsir_oracle CTE chain up
    through the ratio table, fingerprinted per md5 bucket — pure
    portable-ln parity with no per-doc scoring stage."""
    from firebase_etl_spark.functions.portable_math import (
        ln_select_sql,
        lr_e6_expr,
    )

    chain = ln_select_sql(
        "SELECT w, c_src, c_tgt, s_tot, t_tot, v"
        " FROM counts CROSS JOIN tot",
        [
            ("(c_tgt + 1)", "__lnct"),
            ("(c_src + 1)", "__lncs"),
            ("(t_tot + v)", "__lndt"),
            ("(s_tot + v)", "__lnds"),
        ],
    )
    lr = lr_e6_expr("__lnct", "__lndt", "__lncs", "__lnds")
    return f"""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents),
    counts AS (
        SELECT w, count(*) AS c_src,
               sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
        FROM toks GROUP BY w),
    tot AS (SELECT sum(c_src) AS s_tot, sum(c_tgt) AS t_tot,
                   count(*) AS v FROM counts),
    ratio AS (
        SELECT w, CAST(c_src AS BIGINT) AS c_src,
               CAST(c_tgt AS BIGINT) AS c_tgt, {lr} AS lr_e6
        FROM ({chain}))
    SELECT substr(md5(w), 1, 1) AS bucket,
           count(*) AS n_vocab,
           CAST(sum(c_src) AS BIGINT) AS sum_c_src,
           CAST(sum(c_tgt) AS BIGINT) AS sum_c_tgt,
           CAST(sum(lr_e6) AS BIGINT) AS sum_lr_e6,
           min(lr_e6) AS min_lr_e6,
           max(lr_e6) AS max_lr_e6
    FROM ratio GROUP BY bucket ORDER BY bucket
"""


ORACLES_EXT["dsir_diag_model"] = _dsir_diag_model_oracle()


def _dsir_diag_scores_oracle() -> str:
    """Per-doc SCORING-stage diagnostic twin: the exact weights-oracle
    chain through ``scores``, fingerprinted per md5 bucket of doc_id
    with count/sum/min/max AND sum-of-squares — the plain bucket sums
    are blind to cancelling ±1 flips across two docs in one bucket;
    the sum of squares is not. Overflow bound: |lw_e6| < 2^21 and
    docs-per-bucket < 2^21 keep sum(lw_e6²) < 2^63 (measured sf0.1
    max |lw_e6| ≈ 4.2e5)."""
    return _dsir_scores_with() + """
    SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
           count(*) AS n_docs,
           CAST(sum(lw_e6) AS BIGINT) AS sum_lw_e6,
           min(lw_e6) AS min_lw_e6,
           max(lw_e6) AS max_lw_e6,
           CAST(sum(lw_e6 * lw_e6) AS BIGINT) AS sumsq_lw_e6,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM scores GROUP BY bucket ORDER BY bucket
"""


ORACLES_EXT["dsir_diag_scores"] = _dsir_diag_scores_oracle()


def _dsir_diag_columns_oracle() -> str:
    """Column-isolating discriminator: the weights report unpivoted to
    one (lang, col_name, val) row per output column, every val a
    BIGINT. If the packed report reds while this greens, the
    divergence is representation-level (row layout / typing) rather
    than any value; if both red, the driver's diff is in a specific
    named row."""
    cols = [
        "n_docs", "sum_weight_e6", "mean_weight_e4", "min_weight_e6",
        "max_weight_e6", "n_target_like", "total_tokens",
    ]
    parts = [
        f"SELECT lang, '{c}' AS col_name, {c} AS val FROM rep"
        for c in cols
    ]
    return (
        "WITH rep AS (" + _dsir_oracle() + ")\n    "
        + "\n    UNION ALL ".join(parts)
        + "\n    ORDER BY lang, col_name"
    )


ORACLES_EXT["dsir_diag_columns"] = _dsir_diag_columns_oracle()


ORACLES_EXT["events_distinct_users_approx"] = """
    -- exact side replayed; within_bound is the sketch's contribution:
    -- Spark's HLL++ is order/partitioning-independent and holds a 5x
    -- margin on its 1% rsd, so the literal TRUE is a real, stable check
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
"""


ORACLES_EXT["lineitem_percentiles_approx"] = """
    -- exact DISCRETE percentile (an actual data value; zero float
    -- arithmetic) via cumulative counts over distinct values — the
    -- same plan shape the Spark side runs; within_bound replays as
    -- literal TRUE (GK rank error <=0.1% vs the 2% threshold)
    WITH vals AS (
        SELECT l_returnflag, l_extendedprice AS v, count(*) AS c
        FROM lineitem GROUP BY 1, 2),
    cum AS (
        SELECT l_returnflag, v,
               sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
               sum(c) OVER (PARTITION BY l_returnflag) AS n
        FROM vals)
    SELECT l_returnflag,
           min(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS p50_exact,
           min(CASE WHEN cum >= ceil(n * 0.9) THEN v END) AS p90_exact,
           TRUE AS within_bound
    FROM cum GROUP BY 1 ORDER BY 1
"""


ORACLES_EXT["orders_sqlstore_partitioned_scan"] = """
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           count(DISTINCT o_custkey) AS n_customers
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def _bm25_oracle(k: int = 10) -> str:
    """BM25 twin over the PORTABLE libm-free ln: the RSJ idf
    decomposes to ln(2N+2) - ln(2df+1), both integer-argument, so the
    per-(query, doc, term) contribution quantizes the identical double
    on both engines (DSIR-class hardening)."""
    from firebase_etl_spark.functions.portable_math import ln_select_sql

    chain = ln_select_sql(
        "SELECT qt.query_id, tf.doc_id, tf.tf, tf.dl, df.df,"
        " tot.n, tot.tdl"
        " FROM tf"
        " JOIN qt USING (term)"
        " JOIN df USING (term)"
        " CROSS JOIN tot"
        " WHERE tf.doc_id <> qt.query_id",
        [("(2 * n + 2)", "__lnidfn"), ("(2 * df + 1)", "__lnidfd")],
    )
    return f"""
    WITH base AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM documents),
    toks AS (
        SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
    tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM toks GROUP BY doc_id, dl, term),
    tot AS (
        SELECT count(*) AS n, sum(len(toks)) AS tdl FROM base),
    qt AS (
        SELECT DISTINCT doc_id AS query_id, term FROM tf
        WHERE doc_id IN (0, 1, 2, 3, 4)),
    df AS (
        SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
    -- per-(query, doc, term) contribution rounded ONCE to a 1e-6-unit
    -- BIGINT; per-pair scores are associative integer sums (the dsir /
    -- chisq fixed-point pattern). avgdl is one exact-BIGINT division.
    scored AS (
        SELECT query_id, doc_id,
               CAST(round(
                   (__lnidfn - __lnidfd)
                   * (tf * (1.2 + 1.0)
                      / (tf + 1.2 * (1.0 - 0.75
                            + 0.75 * dl / (tdl * 1.0 / n))))
                   * 1000000.0 + 1e-9, 0) AS BIGINT) AS c_e6
        FROM ({chain})),
    pair AS (
        SELECT query_id, doc_id, count(*) AS n_terms,
               CAST(sum(c_e6) AS BIGINT) AS score_e6
        FROM scored GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, n_terms,
           score_e6 / 1000000.0 AS score, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score_e6 DESC, doc_id
        ) AS rank FROM pair
    ) WHERE rank <= {k}
"""


ORACLES_EXT["documents_bm25_topk"] = _bm25_oracle()


ORACLES_EXT["doc_duplicate_windows"] = r"""
    WITH base AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 6),
                   i -> md5(array_to_string(toks[i:i+7], ' ')))) AS gram
        FROM base WHERE len(toks) >= 8),
    per AS (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
    w AS (
        SELECT doc_id, c,
               sum(c) OVER (PARTITION BY gram) AS tot,
               count(*) OVER (PARTITION BY gram) AS nd
        FROM per),
    agg AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN tot > 1 THEN c ELSE 0 END) AS BIGINT)
                   AS n_dup_windows,
               CAST(sum(CASE WHEN nd > 1 THEN c ELSE 0 END) AS BIGINT)
                   AS n_cross_doc_windows
        FROM w GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(n_windows, 0) AS n_windows,
           coalesce(n_dup_windows, 0) AS n_dup_windows,
           coalesce(n_cross_doc_windows, 0) AS n_cross_doc_windows,
           CASE WHEN coalesce(n_windows, 0) = 0 THEN 0.0
                ELSE round(n_dup_windows * 1.0 / n_windows, 6)
           END AS dup_fraction
    FROM documents d LEFT JOIN agg USING (doc_id)
"""


ORACLES_EXT["embedding_knn_label_agreement"] = """
    WITH v AS (SELECT vec_id, label,
                      CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    probes AS (SELECT vec_id AS query_id, label AS q_label, e AS q
               FROM v WHERE vec_id IN (0,1,2,3,4)),
    sims AS (
        SELECT query_id, q_label, vec_id, label,
               round(list_inner_product(e, q)
                     / (sqrt(list_inner_product(e, e))
                        * sqrt(list_inner_product(q, q))), 6) AS cosine_sim
        FROM v CROSS JOIN probes WHERE vec_id <> query_id),
    topk AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id
            ) AS rank FROM sims
        ) WHERE rank <= 10)
    SELECT query_id, q_label,
           count(*) AS n_neighbors,
           CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same_label,
           round(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS agreement
    FROM topk GROUP BY query_id, q_label ORDER BY query_id
"""


ORACLES_EXT["embedding_label_centroids"] = """
    WITH v AS (SELECT vec_id, label,
                      CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    ex AS (SELECT label, pos, e[pos] AS x
           FROM v, unnest(range(1, len(e) + 1)) AS t(pos)),
    -- fixed-point per-dim sums: float32 components cast to double
    -- multiply by 1e6 EXACTLY the same on every engine, so the rounded
    -- BIGINT is identical and the sum associative (classify.py twin)
    cs AS (SELECT label, pos,
                  CAST(sum(CAST(round(x * 1000000.0, 0) AS BIGINT))
                       AS BIGINT) AS s_e6,
                  count(*) AS n
           FROM ex GROUP BY label, pos),
    cent AS (SELECT label AS clabel,
                    list(s_e6 * 1.0 / (1000000.0 * n) ORDER BY pos) AS c
             FROM cs GROUP BY label),
    scored AS (
        SELECT v.vec_id, v.label, cent.clabel,
               round(list_inner_product(v.e, cent.c)
                     / (sqrt(list_inner_product(v.e, v.e))
                        * sqrt(list_inner_product(cent.c, cent.c))),
                     6) AS cos_r
        FROM v CROSS JOIN cent),
    best AS (
        SELECT vec_id, label, clabel AS pred_label,
               CAST(round(cos_r * 1000000.0, 0) AS BIGINT) AS cos_e6
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos_r DESC, clabel
            ) AS rn FROM scored
        ) WHERE rn = 1)
    SELECT label, pred_label, count(*) AS n_vecs,
           round(sum(cos_e6) / (count(*) * 1000000.0), 4) AS avg_cos
    FROM best GROUP BY label, pred_label ORDER BY label, pred_label
"""


def _hybrid_rrf_oracle() -> str:
    """Hybrid RRF twin: the sparse leg replays BM25 with the PORTABLE
    libm-free idf lns (see _bm25_oracle)."""
    from firebase_etl_spark.functions.portable_math import ln_select_sql

    chain = ln_select_sql(
        "SELECT qtx.query_id, tfx.doc_id, tfx.tf, tfx.dl, dfx.df,"
        " totx.n, totx.tdl"
        " FROM tfx JOIN qtx USING (term) JOIN dfx USING (term)"
        " CROSS JOIN totx"
        " WHERE tfx.doc_id <> qtx.query_id",
        [("(2 * n + 2)", "__lnidfn"), ("(2 * df + 1)", "__lnidfd")],
    )
    return rf"""
    WITH base AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
    toksx AS (
        SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
    tfx AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM toksx GROUP BY doc_id, dl, term),
    totx AS (SELECT count(*) AS n, sum(len(toks)) AS tdl FROM base),
    qtx AS (
        SELECT DISTINCT doc_id AS query_id, term FROM tfx
        WHERE doc_id IN (0, 1, 2, 3, 4)),
    dfx AS (
        SELECT term, count(*) AS df FROM tfx
        WHERE term IN (SELECT term FROM qtx) GROUP BY term),
    sc AS (
        SELECT query_id, doc_id,
               CAST(round(
                   (__lnidfn - __lnidfd)
                   * (tf * (1.2 + 1.0)
                      / (tf + 1.2 * (1.0 - 0.75
                            + 0.75 * dl / (tdl * 1.0 / n))))
                   * 1000000.0 + 1e-9, 0) AS BIGINT) AS c_e6
        FROM ({chain})),
    sparse AS (
        SELECT query_id, doc_id, rank AS sparse_rank FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sum(c_e6) DESC, doc_id) AS rank
            FROM sc GROUP BY query_id, doc_id
        ) WHERE rank <= 20),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    probes AS (SELECT vec_id AS query_id, e AS q FROM v
               WHERE vec_id IN (0, 1, 2, 3, 4)),
    dense AS (
        SELECT query_id, vec_id AS doc_id, rank AS dense_rank FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY round(list_inner_product(e, q)
                           / (sqrt(list_inner_product(e, e))
                              * sqrt(list_inner_product(q, q))), 6) DESC,
                           vec_id) AS rank
            FROM v CROSS JOIN probes WHERE vec_id <> query_id
        ) WHERE rank <= 20),
    fused AS (
        SELECT coalesce(s.query_id, d.query_id) AS query_id,
               coalesce(s.doc_id, d.doc_id) AS doc_id,
               s.sparse_rank, d.dense_rank,
               round(coalesce(1.0 / (60 + s.sparse_rank), 0.0)
                     + coalesce(1.0 / (60 + d.dense_rank), 0.0),
                     6) AS rrf_score
        FROM sparse s FULL OUTER JOIN dense d
          ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
    SELECT query_id, doc_id, sparse_rank, dense_rank, rrf_score, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
        ) AS rank FROM fused
    ) WHERE rank <= 10
"""


ORACLES_EXT["documents_hybrid_rrf"] = _hybrid_rrf_oracle()


ORACLES_EXT["doc_langid_confusion"] = f"""
    WITH hits AS (
        SELECT lang,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['the','a','and','of','to'], t))) AS en_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['le','la','et','les','des'], t))) AS fr_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['der','die','und','das','ist'], t))) AS de_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['el','la','y','los','de'], t))) AS es_hits
        FROM documents),
    pred AS (
        SELECT lang, {_LANG_SQL} AS lang_pred FROM hits),
    cells AS (
        SELECT lang, lang_pred, count(*) AS n_docs
        FROM pred GROUP BY lang, lang_pred)
    SELECT lang, lang_pred, n_docs,
           round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 4)
               AS share
    FROM cells ORDER BY lang, lang_pred
"""


def _pmi_oracle() -> str:
    """PMI twin over the five-ln PORTABLE decomposition (see
    lm.py:pmi_collocations — overflow-free single-integer arguments,
    identical 6dp doubles on both engines)."""
    from firebase_etl_spark.functions.portable_math import (
        ln_select_sql,
        pmi_expr,
    )

    chain = ln_select_sql(
        "SELECT c12.w1, c12.w2, c12.c12, ua.cu AS ca, ub.cu AS cb, t, b"
        " FROM c12"
        " JOIN cu ua ON c12.w1 = ua.w"
        " JOIN cu ub ON c12.w2 = ub.w"
        " CROSS JOIN tot",
        [
            ("c12", "__lnc12"),
            ("ca", "__lnca"),
            ("cb", "__lncb"),
            ("t", "__lnt"),
            ("b", "__lnb"),
        ],
    )
    return rf"""
    WITH base AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
    uni AS (
        SELECT unnest(toks) AS w FROM base),
    cu AS (SELECT w, count(*) AS cu FROM uni GROUP BY w),
    bg AS (
        SELECT unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM base WHERE len(toks) >= 2),
    c12 AS (
        SELECT w1, w2, count(*) AS c12 FROM bg
        GROUP BY w1, w2 HAVING count(*) >= 5),
    tot AS (
        SELECT sum(len(toks)) AS t,
               sum(CASE WHEN len(toks) >= 2 THEN len(toks) - 1
                        ELSE 0 END) AS b
        FROM base)
    SELECT w1, w2, c12, {pmi_expr()} AS pmi
    FROM ({chain})
    ORDER BY pmi DESC, w1, w2 LIMIT 20
"""


ORACLES_EXT["doc_pmi_collocations"] = _pmi_oracle()


# REAL-codec verification: recompute the BMP pixel statistics from the
# closed-form generator (queries_ext.BMP_DIMS) — no decoder here, so any
# header/stride/row-order bug in the Python codec fails the hash
ORACLES_EXT["media_bmp_decode_stats"] = """
    WITH dims AS (
        SELECT doc_id,
               CAST(4 + doc_id % 5 AS INT) AS width,
               CAST(3 + doc_id % 4 AS INT) AS height
        FROM documents),
    px AS (
        SELECT doc_id, width, height, t.x, u.y
        FROM dims,
             unnest(range(0, width)) AS t(x),
             unnest(range(0, height)) AS u(y)),
    per AS (
        SELECT doc_id, width, height, count(*) AS n_px,
               sum((doc_id * 31 + x * 7 + y * 13) % 256) AS sum_b,
               sum((doc_id * 31 + x * 7 + y * 13 + 101) % 256) AS sum_g,
               sum((doc_id * 31 + x * 7 + y * 13 + 202) % 256) AS sum_r
        FROM px GROUP BY doc_id, width, height)
    SELECT width, height, count(*) AS n_images,
           CAST(sum(n_px) AS BIGINT) AS total_px,
           CAST(sum(sum_b) AS BIGINT) AS total_b,
           CAST(sum(sum_g) AS BIGINT) AS total_g,
           CAST(sum(sum_r) AS BIGINT) AS total_r,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM per GROUP BY width, height ORDER BY width, height
"""


# AVI frame-stats replay: the closed-form pixel function of
# queries_ext._documents_as_avi, with NO decoder anywhere — frame
# timestamps replayed as f*1000//fps (integer), so the container's
# rate math is pinned too
ORACLES_EXT["media_avi_frame_stats"] = """
    WITH dims AS (
        SELECT doc_id,
               CAST(3 + doc_id % 4 AS INT) AS w,
               CAST(2 + doc_id % 3 AS INT) AS h,
               CAST(2 + doc_id % 3 AS INT) AS nf
        FROM documents),
    fr AS (
        SELECT doc_id, w, h, CAST(f.f AS INT) AS f
        FROM dims, unnest(range(0, nf)) AS f(f)),
    px AS (
        SELECT doc_id, w, h, f, t.x, u.y
        FROM fr,
             unnest(range(0, w)) AS t(x),
             unnest(range(0, h)) AS u(y)),
    per AS (
        SELECT doc_id, f, w, h,
               sum((doc_id * 29 + f * 17 + x * 7 + y * 13) % 256) AS sum_b,
               sum((doc_id * 29 + f * 17 + x * 7 + y * 13 + 101) % 256)
                   AS sum_g,
               sum((doc_id * 29 + f * 17 + x * 7 + y * 13 + 202) % 256)
                   AS sum_r
        FROM px GROUP BY doc_id, f, w, h)
    SELECT f AS frame_idx, count(*) AS n_frames,
           CAST(sum(w * h) AS BIGINT) AS total_px,
           CAST(sum(sum_b) AS BIGINT) AS total_b,
           CAST(sum(sum_g) AS BIGINT) AS total_g,
           CAST(sum(sum_r) AS BIGINT) AS total_r,
           CAST(sum(f * 1000 // 10) AS BIGINT) AS ts_checksum,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM per GROUP BY f ORDER BY frame_idx
"""


# changepoint replay: same integer gain ranking (ties to the earliest
# day), prefix sums over the bounded day spine
ORACLES_EXT["events_changepoint_scan"] = """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS s_tot,
                   count(*) AS t_tot FROM daily),
    pre AS (
        SELECT w.day, CAST(sum(v.n) AS BIGINT) AS s1,
               count(*) AS n1
        FROM daily w JOIN daily v ON v.day <= w.day
        GROUP BY w.day),
    cand AS (
        SELECT day, n1, t_tot - n1 AS n2, s1, s_tot - s1 AS s2, t_tot
        FROM pre CROSS JOIN tot WHERE n1 < t_tot),
    dd AS (
        SELECT day, n1, n2, s1, s2, t_tot,
               CAST(s1 * n2 - s2 * n1 AS BIGINT) AS d
        FROM cand),
    scored AS (
        -- overflow-safe gain (ADVICE r7): exact integer d² path only
        -- while |d| < 2^31; above it the identical IEEE-double chain
        -- the Spark plan runs (same parenthesization, floor before
        -- cast so DuckDB's rounding CAST can't diverge from Spark)
        SELECT day, n1, n2, s1, s2,
               CASE WHEN abs(d) < 2147483648
                    THEN CAST((d * d) // (n1 * n2 * t_tot) AS BIGINT)
                    ELSE CAST(floor((CAST(d AS DOUBLE) * CAST(d AS DOUBLE))
                         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                            * CAST(t_tot AS DOUBLE))) AS BIGINT)
               END AS gain_stat
        FROM dd)
    SELECT day AS split_day, n1 AS n_days_before, n2 AS n_days_after,
           CAST((s1 * 100) // n1 AS BIGINT) AS mean_before_e2,
           CAST((s2 * 100) // n2 AS BIGINT) AS mean_after_e2,
           gain_stat
    FROM scored ORDER BY gain_stat DESC, day LIMIT 1
"""


ORACLES_EXT["events_dow_profile"] = """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1),
    dowd AS (
        -- weekday from epoch-day arithmetic, Monday=0 (1970-01-01 was
        -- a Thursday): engine dayofweek() conventions disagree, this
        -- never does
        SELECT (CAST(day - DATE '1970-01-01' AS BIGINT) + 3) % 7
                   AS dow,
               day, n
        FROM daily),
    means AS (
        SELECT dow, count(*) AS n_days,
               CAST(sum(n) AS BIGINT) AS total_events,
               CAST((CAST(sum(n) AS BIGINT) * 100) // count(*)
                    AS BIGINT) AS mean_per_day_e2
        FROM dowd GROUP BY dow),
    resid AS (
        SELECT d.dow,
               CAST(sum(abs(d.n * 100 - m.mean_per_day_e2))
                    AS BIGINT) AS sum_abs_resid_e2,
               CAST(max(d.n * 100 - m.mean_per_day_e2)
                    AS BIGINT) AS max_resid_e2,
               CAST(min(d.n * 100 - m.mean_per_day_e2)
                    AS BIGINT) AS min_resid_e2,
               CAST(sum(CASE WHEN d.n * 100 > m.mean_per_day_e2
                             THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_days_above_mean
        FROM dowd d JOIN means m USING (dow) GROUP BY d.dow)
    SELECT m.dow, m.n_days, m.total_events, m.mean_per_day_e2,
           r.sum_abs_resid_e2, r.max_resid_e2, r.min_resid_e2,
           r.n_days_above_mean
    FROM means m JOIN resid r USING (dow) ORDER BY dow
"""


def _retrieval_eval_oracle() -> str:
    """IR-eval twin: nests the full BM25 oracle as the retrieval run,
    labels every (probe, doc) pair with the graded token-set-Jaccard
    relevance, and reconstructs DCG/IDCG/MRR/recall from the SAME
    hardcoded integer discount tables the Spark plan uses
    (retrieval.py:NDCG_W_E6/NDCG_P_E6 — no runtime log2 anywhere)."""
    from firebase_etl_spark.operators.retrieval import (
        NDCG_P_E6,
        NDCG_W_E6,
    )

    w_case = (
        "CASE rank "
        + " ".join(f"WHEN {r + 1} THEN {w}" for r, w in enumerate(NDCG_W_E6))
        + " ELSE 0 END"
    )
    p_case = (
        "CASE WHEN {x} >= 10 THEN " + str(NDCG_P_E6[10]) + " "
        + " ".join(
            f"WHEN {{x}} = {i} THEN {p}"
            for i, p in enumerate(NDCG_P_E6[:10])
        )
        + " END"
    )
    gain = (
        "CASE rel WHEN 4 THEN 15 WHEN 3 THEN 7 WHEN 2 THEN 3"
        " WHEN 1 THEN 1 ELSE 0 END"
    )
    return rf"""
    WITH bm AS ({_bm25_oracle()}),
    tsets AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(lower(trim(text)),
                                                   '\s+')) AS toks
        FROM documents),
    probes AS (
        SELECT doc_id AS query_id, toks AS q_toks FROM tsets
        WHERE doc_id IN (0, 1, 2, 3, 4)),
    rel AS (
        SELECT query_id, doc_id,
               CASE WHEN j >= 0.75 THEN 4 WHEN j >= 0.5 THEN 3
                    WHEN j >= 0.25 THEN 2 WHEN j >= 0.1 THEN 1
                    ELSE 0 END AS rel
        FROM (
            SELECT p.query_id, b.doc_id,
                   round(len(list_intersect(b.toks, p.q_toks)) * 1.0
                         / len(list_distinct(
                               list_concat(b.toks, p.q_toks))), 6) AS j
            FROM tsets b CROSS JOIN probes p
            WHERE b.doc_id <> p.query_id)),
    hist AS (
        SELECT query_id, rel, count(*) AS c
        FROM rel WHERE rel > 0 GROUP BY query_id, rel),
    hist2 AS (
        SELECT query_id, rel, c,
               coalesce(sum(c) OVER (
                   PARTITION BY query_id ORDER BY rel DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS hi
        FROM hist),
    ideal AS (
        SELECT query_id,
               CAST(sum(({gain})
                    * ({p_case.format(x="least(hi + c, 10)")}
                       - {p_case.format(x="least(hi, 10)")}))
                    AS BIGINT) AS idcg_e6
        FROM hist2 GROUP BY query_id),
    hits AS (
        SELECT bm.query_id, bm.rank, r.rel
        FROM bm JOIN rel r
          ON bm.query_id = r.query_id AND bm.doc_id = r.doc_id),
    per_run AS (
        SELECT query_id,
               CAST(sum(({gain}) * ({w_case})) AS BIGINT) AS dcg_e6,
               min(CASE WHEN rel >= 2 THEN rank END) AS first_rel,
               CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_found_rel
        FROM hits GROUP BY query_id),
    nrel AS (
        SELECT query_id, count(*) AS n_relevant
        FROM rel WHERE rel >= 2 GROUP BY query_id)
    SELECT p.query_id,
           CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
           CAST(coalesce(n_found_rel, 0) AS BIGINT) AS n_found_rel,
           CAST(coalesce(first_rel, 0) AS BIGINT) AS mrr_rank,
           CAST(CASE WHEN coalesce(first_rel, 0) > 0
                THEN 1000000 // first_rel ELSE 0 END
                AS BIGINT) AS mrr_e6,
           CAST(coalesce(dcg_e6, 0) AS BIGINT) AS dcg_e6,
           CAST(coalesce(idcg_e6, 0) AS BIGINT) AS idcg_e6,
           CAST(CASE WHEN coalesce(idcg_e6, 0) > 0
                THEN (coalesce(dcg_e6, 0) * 10000) // idcg_e6
                ELSE 0 END AS BIGINT) AS ndcg_e4,
           CAST(CASE WHEN coalesce(n_relevant, 0) > 0
                THEN (coalesce(n_found_rel, 0) * 10000) // n_relevant
                ELSE 0 END AS BIGINT) AS recall_e4
    FROM probes p
    LEFT JOIN nrel USING (query_id)
    LEFT JOIN ideal USING (query_id)
    LEFT JOIN per_run USING (query_id)
    ORDER BY query_id
"""


ORACLES_EXT["doc_retrieval_eval"] = _retrieval_eval_oracle()


def _minhash_recall_oracle(
    num_hashes: int = 16, bands: int = 4
) -> str:
    """Recall-audit twin: replays the PORTABLE md5 MinHash signature
    (52-bit integer prefixes, the simhash_portable convention), the
    4-band keys, the bucket self-join and the exact-Jaccard verify —
    then measures them against the brute-force truth, exactly as the
    Spark plan does against its prefix-filter truth (same pair set by
    the prefix filter's zero-false-negative construction)."""
    mins = ",\n               ".join(
        f"min(('0x' || substr(md5('mh{i}|' || s), 1, 13))::BIGINT)"
        f" AS m{i}"
        for i in range(num_hashes)
    )
    rows = num_hashes // bands
    band_rows = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bh FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS sh
        FROM toks WHERE len(tk) >= 3
    ), lens AS MATERIALIZED (
        SELECT doc_id, len(sh) AS l FROM sh
    ), ex AS MATERIALIZED (
        SELECT doc_id, unnest(sh) AS s FROM sh
    ), opairs AS MATERIALIZED (
        -- postings-join pair overlaps (the doc_prefix_filter rewrite):
        -- every pair with c >= 1 shared shingles; c = 0 pairs cannot
        -- reach the 0.5 truth threshold, and the banding can only
        -- bucket pairs sharing a full signature row, so the verify
        -- join below never needs them either
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS c
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), jac AS MATERIALIZED (
        SELECT id_a, id_b,
               round(c * 1.0 / nullif(la.l + lb.l - c, 0), 6) AS jaccard
        FROM opairs
        JOIN lens la ON la.doc_id = id_a
        JOIN lens lb ON lb.doc_id = id_b
    ), truth AS (
        SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM ex GROUP BY doc_id
    ), banded AS (
        {band_rows}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ), found AS (
        SELECT c.id_a, c.id_b, 1 AS f
        FROM cands c
        JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
        WHERE j.jaccard >= 0.5
    ), rep AS (
        SELECT CASE WHEN t.jaccard >= 1.0 THEN 10
                    ELSE CAST(floor(t.jaccard * 10) AS INT)
               END AS sim_decile,
               count(*) AS n_true_pairs,
               CAST(coalesce(sum(f.f), 0) AS BIGINT) AS n_lsh_found
        FROM truth t
        LEFT JOIN found f ON t.id_a = f.id_a AND t.id_b = f.id_b
        GROUP BY 1
    )
    SELECT sim_decile, n_true_pairs, n_lsh_found,
           n_true_pairs - n_lsh_found AS n_missed,
           CAST((n_lsh_found * 10000) // n_true_pairs AS BIGINT)
               AS recall_e4
    FROM rep ORDER BY sim_decile
"""


ORACLES_EXT["doc_minhash_recall_audit"] = _minhash_recall_oracle()


def _pq_topk_oracle(
    m: int = 4, ksub: int = 16, n_candidates: int = 50, k: int = 10,
    dim: int = 64,
) -> str:
    """PQ twin: identical sampled sub-codebooks (unit-normalized via
    the same arithmetic), identical 6dp-rounded-cosine argmax encoding
    with low-cid ties, identical e6 norm-fraction and ADC-table
    roundings, integer ADC sum, and the suite's exact re-rank."""
    sd = dim // m
    return f"""
    WITH ve AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0),
    subs AS MATERIALIZED (
        SELECT vec_id, mm.m,
               e[mm.m * {sd} + 1:(mm.m + 1) * {sd}] AS s, e
        FROM ve, unnest(range(0, {m})) mm(m)),
    seedn AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM (SELECT vec_id FROM ve ORDER BY vec_id LIMIT {ksub})),
    subcents AS MATERIALIZED (
        SELECT sn.cid, sub.m,
               list_transform(
                   sub.s,
                   x -> x / sqrt(list_inner_product(sub.s, sub.s))) AS c
        FROM seedn sn JOIN subs sub ON sub.vec_id = sn.vec_id),
    cosr AS (
        SELECT sub.vec_id, sub.m, sc.cid,
               round(list_inner_product(sub.s, sc.c)
                     / (sqrt(list_inner_product(sub.s, sub.s))
                        * sqrt(list_inner_product(sc.c, sc.c))),
                     6) AS cos
        FROM subs sub JOIN subcents sc ON sub.m = sc.m),
    enc AS MATERIALIZED (
        SELECT vec_id, m, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY cos DESC, cid) AS rn
            FROM cosr) WHERE rn = 1),
    wsub AS MATERIALIZED (
        SELECT vec_id, m,
               CAST(round(sqrt(list_inner_product(s, s))
                          / sqrt(list_inner_product(e, e))
                          * 1000000.0, 0) AS BIGINT) AS w_e6
        FROM subs),
    qt AS MATERIALIZED (
        SELECT q.vec_id AS query_id, sub.m, sc.cid,
               CAST(round(list_inner_product(sub.s, sc.c)
                          / sqrt(list_inner_product(q.e, q.e))
                          * 1000000.0, 0) AS BIGINT) AS t_e6
        FROM ve q
        JOIN subs sub ON sub.vec_id = q.vec_id
        JOIN subcents sc ON sc.m = sub.m
        WHERE q.vec_id IN (0, 1, 2, 3, 4)),
    appx AS (
        SELECT qt.query_id, enc.vec_id,
               CAST(sum(w.w_e6 * qt.t_e6) AS BIGINT) AS a_e12
        FROM enc
        JOIN wsub w ON w.vec_id = enc.vec_id AND w.m = enc.m
        JOIN qt ON qt.m = enc.m AND qt.cid = enc.cid
        WHERE enc.vec_id <> qt.query_id
        GROUP BY qt.query_id, enc.vec_id),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY a_e12 DESC, vec_id) AS rn
            FROM appx) WHERE rn <= {n_candidates}),
    scored AS (
        SELECT c.query_id, c.vec_id,
               round(list_inner_product(t.e, q.e)
                     / (sqrt(list_inner_product(t.e, t.e))
                        * sqrt(list_inner_product(q.e, q.e))),
                     6) AS cosine_sim
        FROM cand c
        JOIN ve q ON q.vec_id = c.query_id
        JOIN ve t ON t.vec_id = c.vec_id)
    SELECT query_id, vec_id, cosine_sim, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id
        ) AS rank FROM scored) WHERE rank <= {k}
    ORDER BY query_id, rank
"""


ORACLES_EXT["embedding_topk_pq"] = _pq_topk_oracle()


ORACLES_EXT["embedding_knn_shapley"] = """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
        FROM embeddings),
    probes AS (
        SELECT vec_id AS query_id, e AS q, label AS q_lbl FROM v
        WHERE vec_id IN (0, 1, 2, 3, 4)),
    train AS (
        SELECT * FROM v WHERE vec_id NOT IN (0, 1, 2, 3, 4)),
    sims AS (
        SELECT p.query_id, t.vec_id, t.label AS lbl,
               CASE WHEN t.label = p.q_lbl THEN 1 ELSE 0 END AS m,
               round(list_inner_product(t.e, p.q)
                     / (sqrt(list_inner_product(t.e, t.e))
                        * sqrt(list_inner_product(p.q, p.q))),
                     6) AS sim
        FROM train t CROSS JOIN probes p),
    ranked AS (
        SELECT *,
               row_number() OVER w AS j,
               count(*) OVER (PARTITION BY query_id) AS n,
               lead(m) OVER w AS m_next,
               last_value(m) OVER (
                   PARTITION BY query_id ORDER BY sim DESC, vec_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS m_last
        FROM sims
        WINDOW w AS (PARTITION BY query_id ORDER BY sim DESC, vec_id)),
    terms AS (
        SELECT query_id, vec_id, lbl, j, n, m_last,
               CASE WHEN m_next IS NULL THEN CAST(0 AS BIGINT)
                    ELSE (m - m_next)
                         * ((least(CAST(5 AS BIGINT), j)
                             * 1000000000000) // (5 * j))
               END AS term
        FROM ranked),
    scored AS (
        SELECT query_id, vec_id, lbl,
               (m_last * 1000000000000) // n
               + sum(term) OVER (
                   PARTITION BY query_id ORDER BY j DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS s_e12
        FROM terms),
    per_point AS (
        SELECT vec_id, lbl, CAST(sum(s_e12) AS BIGINT) AS value_e12
        FROM scored GROUP BY vec_id, lbl)
    SELECT lbl AS label, count(*) AS n_train,
           CAST(sum(value_e12) AS BIGINT) AS sum_value_e12,
           min(value_e12) AS min_value_e12,
           max(value_e12) AS max_value_e12,
           CAST(sum(CASE WHEN value_e12 < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_negative
    FROM per_point GROUP BY lbl ORDER BY label
"""


def _markov_attribution_oracle(
    channels=("click", "error", "signup", "view"),
    conversion: str = "purchase",
    iters: int = 40,
) -> str:
    """Markov removal-effect twin: identical journey extraction (lag
    over (epoch_us, event_id)), identical e9 floor-divided transition
    probabilities, and the SAME fixed number of Jacobi sweeps as the
    Spark plan's driver-local solve — unrolled to one CTE per
    iteration over the (variant, state) grid (the pagerank/BPE
    unrolled-iteration convention), so both engines walk the exact
    integer sequence."""
    chan_in = ", ".join(f"'{c}'" for c in channels)
    chan_arr = ", ".join(f"'{c}'" for c in channels)
    its = []
    for n in range(1, iters + 1):
        prev = f"it{n - 1}"
        its.append(f"""
    it{n} AS MATERIALIZED (
        SELECT s.removed, s.state,
               CAST(coalesce(d.pc, 0)
                    + coalesce(sum(pp.p_e9 * pv.v), 0) // 1000000000
                    AS BIGINT) AS v
        FROM vstates s
        LEFT JOIN dconv d ON d.f = s.state
        LEFT JOIN prob pp ON pp.f = s.state
        LEFT JOIN {prev} pv
               ON pv.removed = s.removed AND pv.state = pp.t
        GROUP BY s.removed, s.state, d.pc)""")
    iter_sql = ",".join(its)
    return f"""
    WITH e AS (
        SELECT user_id AS u, event_type AS ch, epoch_us(ts) AS us,
               event_id AS eid
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
    conv AS (
        SELECT u, min(us) AS conv_us FROM e
        WHERE ch = '{conversion}' GROUP BY u),
    ev AS (
        SELECT e.u, e.ch, e.us, e.eid, c.conv_us
        FROM e LEFT JOIN conv c USING (u)
        WHERE e.ch IN ({chan_in})
          AND (c.conv_us IS NULL OR e.us < c.conv_us)),
    seq AS (
        SELECT u, ch, conv_us,
               coalesce(lag(ch) OVER (PARTITION BY u
                                      ORDER BY us, eid), 'start') AS f,
               row_number() OVER (PARTITION BY u
                                  ORDER BY us DESC, eid DESC) AS rn
        FROM ev),
    pairs AS (SELECT f, ch AS t FROM seq),
    term AS (
        SELECT ch AS f,
               CASE WHEN conv_us IS NOT NULL THEN 'conv'
                    ELSE 'null' END AS t
        FROM seq WHERE rn = 1),
    untouched AS (
        SELECT 'start' AS f, 'conv' AS t FROM conv
        WHERE u NOT IN (SELECT DISTINCT u FROM ev)),
    trans AS MATERIALIZED (
        SELECT f, t, count(*) AS cnt FROM (
            SELECT * FROM pairs
            UNION ALL SELECT * FROM term
            UNION ALL SELECT * FROM untouched)
        GROUP BY f, t),
    rtot AS MATERIALIZED (SELECT f, CAST(sum(cnt) AS BIGINT) AS r
             FROM trans GROUP BY f),
    prob AS MATERIALIZED (
        SELECT t.f, t.t,
               CAST((t.cnt * 1000000000) // r.r AS BIGINT) AS p_e9
        FROM trans t JOIN rtot r USING (f)),
    dconv AS MATERIALIZED (SELECT f, p_e9 AS pc FROM prob WHERE t = 'conv'),
    variants AS (
        SELECT unnest(['__full__', {chan_arr}]) AS removed),
    vstates AS MATERIALIZED (
        SELECT v.removed, s.state
        FROM variants v, unnest(['start', {chan_arr}]) AS s(state)
        WHERE s.state <> v.removed),
    it0 AS MATERIALIZED (SELECT removed, state, CAST(0 AS BIGINT) AS v
            FROM vstates),{iter_sql},
    pfull AS (
        SELECT v AS p_full FROM it{iters}
        WHERE removed = '__full__' AND state = 'start'),
    prem AS (
        SELECT removed AS channel, v AS p_rm FROM it{iters}
        WHERE removed <> '__full__' AND state = 'start'),
    eff AS (
        SELECT channel, p_full, p_rm,
               CASE WHEN p_full > 0 AND p_full > p_rm
                    THEN ((p_full - p_rm) * 1000000) // p_full
                    ELSE 0 END AS re
        FROM prem, pfull),
    tot AS (SELECT CAST(sum(re) AS BIGINT) AS te FROM eff),
    nfrom AS (SELECT f AS channel, r AS n_from FROM rtot)
    SELECT e.channel,
           CAST(coalesce(n.n_from, 0) AS BIGINT) AS n_from,
           CAST(e.p_full AS BIGINT) AS p_conv_full_e9,
           CAST(e.p_rm AS BIGINT) AS p_conv_removed_e9,
           CAST(e.re AS BIGINT) AS removal_effect_e6,
           CAST(CASE WHEN t.te > 0 THEN (e.re * 1000000) // t.te
                ELSE 0 END AS BIGINT) AS attribution_e6
    FROM eff e LEFT JOIN nfrom n USING (channel), tot t
    ORDER BY e.channel
"""


ORACLES_EXT["events_markov_attribution"] = _markov_attribution_oracle()


def _shapley_oracle(
    channels=("click", "error", "signup", "view"),
    conversion: str = "purchase",
) -> str:
    """Shapley attribution twin: journey bitmasks (micros-truncated ts
    comparison mirroring Spark's loader), subset lattice by integer
    bit algebra, exact factorial weights on the n! denominator."""
    import math as _m

    n = len(channels)
    mask = " + ".join(
        f"(CASE WHEN max(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END)"
        f" = 1 THEN {1 << j} ELSE 0 END)"
        for j, c in enumerate(channels)
    )
    in_list = ", ".join(f"'{c}'" for c in channels)
    w_case = " ".join(
        f"WHEN bit_count(v0.s) = {p}"
        f" THEN {_m.factorial(p) * _m.factorial(n - 1 - p)}"
        for p in range(n)
    )
    chan_rows = ", ".join(
        f"('{c}', {1 << j})" for j, c in enumerate(channels)
    )
    return f"""
    WITH conv AS (
        SELECT user_id AS u, min(epoch_us(ts)) AS cus
        FROM events
        WHERE event_type = '{conversion}' AND user_id IS NOT NULL
        GROUP BY 1),
    jm AS (
        SELECT e.user_id AS u, {mask} AS m
        FROM events e JOIN conv ON e.user_id = conv.u
        WHERE e.event_type IN ({in_list})
          AND epoch_us(e.ts) < conv.cus
        GROUP BY e.user_id),
    journeys AS (
        SELECT m, count(*) AS n_conv FROM jm WHERE m > 0 GROUP BY m),
    subsets AS (
        SELECT CAST(s.s AS INT) AS s
        FROM unnest(range(0, {1 << n})) AS s(s)),
    v AS (
        SELECT s, CAST(coalesce(sum(n_conv), 0) AS BIGINT) AS v
        FROM subsets LEFT JOIN journeys ON (m | s) = s
        GROUP BY s),
    chans AS (SELECT * FROM (VALUES {chan_rows}) AS c(name, bit)),
    phi AS (
        SELECT c.name AS channel,
               CAST(sum((CASE {w_case} END) * (v1.v - v0.v))
                    AS BIGINT) AS phi_fact
        FROM chans c
        JOIN v v0 ON (v0.s // c.bit) % 2 = 0
        JOIN v v1 ON v1.s = v0.s + c.bit
        GROUP BY c.name),
    vf AS (SELECT v AS v_full FROM v WHERE s = {(1 << n) - 1})
    SELECT channel, phi_fact,
           CAST((phi_fact * 1000000) // {_m.factorial(n)} AS BIGINT)
               AS phi_e6,
           v_full
    FROM phi CROSS JOIN vf ORDER BY channel
"""


ORACLES_EXT["events_shapley_attribution"] = _shapley_oracle()


def _kneser_ney_oracle() -> str:
    """KN twin: the bigram table feeds context counts (c1 + distinct
    successors per w1), continuation counts per w2 and the bigram-type
    total; the interpolated d=1/2 probability is the single integer
    ratio of lm.py:kneser_ney_scores, through the same portable lns."""
    from firebase_etl_spark.functions.portable_math import (
        LN2_LIT,
        fixed_e6_expr,
        ln_select_sql,
    )

    chain = ln_select_sql(
        "SELECT doc_id, c12, c1, n1w1, ncw2, t FROM bg2"
        " JOIN c12 USING (w1, w2) JOIN c1n1 USING (w1)"
        " JOIN nc USING (w2) CROSS JOIN tt",
        [
            ("((2 * c12 - 1) * 2 * t + 2 * n1w1 * ncw2)", "__lnnum"),
            ("(4 * c1 * t)", "__lnden"),
        ],
    )
    lg2 = fixed_e6_expr(f"(__lnnum - __lnden) / {LN2_LIT}")
    return rf"""
    WITH tk AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
        FROM tk WHERE len(t) >= 2
    ),
    bg2 AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bg),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg2 GROUP BY w1, w2),
    c1n1 AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               count(*) AS n1w1
        FROM c12 GROUP BY w1),
    nc AS (SELECT w2, count(*) AS ncw2 FROM c12 GROUP BY w2),
    tt AS (SELECT count(*) AS t FROM c12),
    perbg AS (SELECT doc_id, {lg2} AS lg2_e6 FROM ({chain})),
    scored AS (
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(lg2_e6) AS BIGINT) AS __s
        FROM perbg GROUP BY doc_id
    ),
    scored2 AS (
        SELECT doc_id, n_bigrams,
               CAST(round(CAST(__s AS DOUBLE) / n_bigrams + 1e-9, 0)
                    AS BIGINT) AS avg_lg2_e6
        FROM scored
    )
    SELECT d.lang, count(*) AS n_docs,
           CAST(sum(avg_lg2_e6) AS BIGINT) AS sum_avg_e6,
           min(avg_lg2_e6) AS min_avg_e6,
           max(avg_lg2_e6) AS max_avg_e6,
           CAST(sum(CASE WHEN avg_lg2_e6 < -12000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below_floor,
           CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams
    FROM documents d JOIN scored2 USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
"""


ORACLES_EXT["doc_lm_kneser_ney_report"] = _kneser_ney_oracle()


def _psi_oracle(n_bins: int = 10) -> str:
    """PSI twin: decile cuts via quantile_cont (the gini-established
    interpolation parity), add-half smoothed shares, portable lns, e6
    fixed-point bin terms integer-summed."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )

    pcts = ",".join(
        str(round((i + 1) / n_bins, 2)) for i in range(n_bins - 1)
    )
    chain = ln_select_sql(
        "SELECT g, bkt, cp, cq, np, nq FROM grid",
        [
            ("(2 * cq + 1)", "__lncq"),
            (f"(2 * nq + {2 * n_bins})", "__lnnq"),
            ("(2 * cp + 1)", "__lncp"),
            (f"(2 * np + {2 * n_bins})", "__lnnp"),
        ],
    )
    term = (
        f"(CAST(2 * cq + 1 AS DOUBLE) / CAST(2 * nq + {2 * n_bins} AS DOUBLE)"
        f" - CAST(2 * cp + 1 AS DOUBLE) / CAST(2 * np + {2 * n_bins} AS DOUBLE))"
        " * ((__lncq - __lnnq) - (__lncp - __lnnp))"
    )
    t_e6 = fixed_e6_expr(term)
    return f"""
    WITH base AS (
        SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
               epoch_us(ts) AS us
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
          AND ts IS NOT NULL),
    span AS (SELECT min(us) AS mn, max(us) AS mx FROM base),
    halves AS (
        SELECT g, v, us <= (mn + mx) // 2 AS is_ref
        FROM base CROSS JOIN span),
    cuts AS (
        SELECT g,
               list_transform(quantile_cont(v, [{pcts}]),
                              c -> round(c, 6)) AS cuts
        FROM halves WHERE is_ref GROUP BY g),
    binned AS (
        SELECT h.g,
               CAST(1 + len(list_filter(c.cuts, x -> x < h.v)) AS INT)
                   AS bkt,
               CAST(sum(CASE WHEN h.is_ref THEN 1 ELSE 0 END) AS BIGINT)
                   AS cp,
               CAST(sum(CASE WHEN h.is_ref THEN 0 ELSE 1 END) AS BIGINT)
                   AS cq
        FROM halves h JOIN cuts c ON h.g = c.g
        GROUP BY 1, 2),
    spine AS (
        SELECT g, CAST(b.b AS INT) AS bkt
        FROM cuts, unnest(range(1, {n_bins + 1})) AS b(b)),
    tot AS (
        SELECT g, CAST(sum(cp) AS BIGINT) AS np,
               CAST(sum(cq) AS BIGINT) AS nq
        FROM binned GROUP BY g),
    grid AS (
        SELECT s.g, s.bkt,
               coalesce(b.cp, 0) AS cp, coalesce(b.cq, 0) AS cq,
               t.np, t.nq
        FROM spine s
        LEFT JOIN binned b ON s.g = b.g AND s.bkt = b.bkt
        JOIN tot t ON s.g = t.g),
    per_bin AS (
        SELECT g, np, nq, {t_e6} AS t_e6 FROM ({chain}))
    SELECT g AS event_type, max(np) AS n_ref, max(nq) AS n_cur,
           CAST(sum(t_e6) AS BIGINT) AS psi_e6,
           CASE WHEN CAST(sum(t_e6) AS BIGINT) >= 250000 THEN 'major'
                WHEN CAST(sum(t_e6) AS BIGINT) >= 100000 THEN 'moderate'
                ELSE 'stable' END AS drift_level
    FROM per_bin GROUP BY g ORDER BY event_type
"""


ORACLES_EXT["events_psi_drift"] = _psi_oracle()


ORACLES_EXT["documents_target_coverage"] = r"""
    WITH toks AS (
        SELECT doc_id, lang,
               regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), g AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])))
                   AS gram
        FROM toks
    ), pg AS (
        SELECT doc_id AS probe_id, lang AS grp, gram
        FROM g WHERE doc_id % 89 = 0
    ), covered AS (
        SELECT DISTINCT gram FROM g
        WHERE doc_id % 89 <> 0
          AND gram IN (SELECT DISTINCT gram FROM pg)
    ), per_probe AS (
        SELECT probe_id, grp, count(*) AS n_grams,
               CAST(sum(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_covered
        FROM pg LEFT JOIN covered c USING (gram)
        GROUP BY probe_id, grp
    ), pp AS (
        SELECT *, (n_covered * 1000000) // n_grams AS coverage_e6
        FROM per_probe
    )
    SELECT grp AS lang, count(*) AS n_probes,
           CAST(sum(n_grams) AS BIGINT) AS total_grams,
           CAST(sum(n_covered) AS BIGINT) AS covered_grams,
           CAST(min(coverage_e6) AS BIGINT) AS min_coverage_e6,
           CAST((sum(n_covered) * 1000000) // sum(n_grams) AS BIGINT)
               AS gram_coverage_e6,
           CAST(sum(CASE WHEN n_covered = n_grams THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fully_covered
    FROM pp GROUP BY grp ORDER BY lang
"""


ORACLES_EXT["doc_encoding_artifacts"] = r"""
    WITH f AS (
        SELECT lang,
               len(regexp_extract_all(text, '\x{FFFD}'))
                   AS n_replacement,
               len(regexp_extract_all(text,
                   '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]'))
                   AS n_control,
               len(regexp_extract_all(text,
                   '[\x{00C3}\x{00C2}\x{00E2}][\x{0080}-\x{00FF}]'))
                   AS n_mojibake
        FROM documents)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN n_replacement > 0 OR n_control > 0
                              OR n_mojibake > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(sum(n_replacement) AS BIGINT) AS total_replacement,
           CAST(sum(n_control) AS BIGINT) AS total_control,
           CAST(sum(n_mojibake) AS BIGINT) AS total_mojibake
    FROM f GROUP BY lang ORDER BY lang
"""


# streaming KMV twin: batch replay of the bottom-64 minima SET (the
# stream state dedups by hash value, so the replay dedups hashes too)
ORACLES_EXT["stream_kmv_distinct_users"] = """
    WITH rows_ AS (
        SELECT event_type AS g, CAST(user_id AS VARCHAR) AS u
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
    nseen AS (SELECT g, count(*) AS n_seen FROM rows_ GROUP BY g),
    d AS (SELECT DISTINCT g, u FROM rows_),
    h AS (
        SELECT DISTINCT g,
               ('0x' || substr(md5('kmv|' || u), 1, 13))::BIGINT AS h
        FROM d),
    sk AS (
        SELECT g, h FROM (
            SELECT g, h, row_number() OVER (
                PARTITION BY g ORDER BY h) AS r
            FROM h) WHERE r <= 64),
    per AS (SELECT g, count(*) AS n_sk, max(h) AS h_k FROM sk GROUP BY g)
    SELECT p.g, n.n_seen, p.n_sk, p.h_k,
           CAST(CASE WHEN p.n_sk < 64 OR p.h_k = 0 THEN p.n_sk
                ELSE (63 * CAST(4503599627370496 AS BIGINT)) // p.h_k
                END AS BIGINT) AS est_distinct
    FROM per p JOIN nseen n ON p.g = n.g ORDER BY p.g
"""


# KMV set-ops replay: the oracle rebuilds the identical bottom-64
# sketch (md5 hashes, 13 hex chars = 2^52 scale) and replays the union
# / intersection estimators in the same overflow-free integer
# arithmetic, so every estimate is hash-checked
ORACLES_EXT["events_kmv_user_overlap"] = """
    WITH d AS (
        SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS u
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
    h AS (
        SELECT g, u,
               ('0x' || substr(md5('kmv|' || u), 1, 13))::BIGINT AS h
        FROM d),
    sk AS (
        SELECT g, u, h FROM (
            SELECT g, u, h, row_number() OVER (
                PARTITION BY g ORDER BY h, u) AS r
            FROM h) WHERE r <= 64),
    per_g AS (
        SELECT g, count(*) AS n_sk, max(h) AS h_k FROM sk GROUP BY g),
    types AS (SELECT DISTINCT g FROM sk),
    pairs AS (
        SELECT a.g AS ga, b.g AS gb FROM types a
        JOIN types b ON a.g < b.g),
    mrows AS (
        SELECT p.ga, p.gb, s.h,
               CASE WHEN s.g = p.ga THEN 1 ELSE 0 END AS in_a,
               CASE WHEN s.g = p.gb THEN 1 ELSE 0 END AS in_b
        FROM pairs p JOIN sk s ON s.g = p.ga OR s.g = p.gb),
    mh AS (
        SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
        FROM mrows GROUP BY ga, gb, h),
    mk AS (
        SELECT * FROM (
            SELECT ga, gb, h, in_a, in_b,
                   row_number() OVER (
                       PARTITION BY ga, gb ORDER BY h) AS r,
                   count(*) OVER (PARTITION BY ga, gb) AS n_tot
            FROM mh) WHERE r <= 64),
    agg AS (
        SELECT ga, gb, max(n_tot) AS n_merged, count(*) AS n_k,
               max(h) AS h_k_u,
               CAST(sum(CASE WHEN in_a = 1 AND in_b = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM mk GROUP BY ga, gb),
    ex AS (
        SELECT a.g AS ga, b.g AS gb, count(*) AS exact_common
        FROM d a JOIN d b ON a.u = b.u AND a.g < b.g
        GROUP BY a.g, b.g),
    est AS (
        SELECT agg.ga, agg.gb,
               CASE WHEN pa.n_sk < 64 OR pa.h_k = 0 THEN pa.n_sk
                    ELSE (63 * CAST(4503599627370496 AS BIGINT))
                         // pa.h_k END AS est_users_a,
               CASE WHEN pb.n_sk < 64 OR pb.h_k = 0 THEN pb.n_sk
                    ELSE (63 * CAST(4503599627370496 AS BIGINT))
                         // pb.h_k END AS est_users_b,
               CASE WHEN agg.n_merged < 64 OR agg.h_k_u = 0
                    THEN agg.n_merged
                    ELSE (63 * CAST(4503599627370496 AS BIGINT))
                         // agg.h_k_u END AS est_union,
               agg.n_merged, agg.n_k, agg.c
        FROM agg
        JOIN per_g pa ON agg.ga = pa.g
        JOIN per_g pb ON agg.gb = pb.g)
    SELECT est.ga, est.gb,
           CAST(est_users_a AS BIGINT) AS est_users_a,
           CAST(est_users_b AS BIGINT) AS est_users_b,
           CAST(est_union AS BIGINT) AS est_union,
           CAST(CASE WHEN n_merged < 64 THEN c
                ELSE (est_union // n_k) * c
                     + ((est_union % n_k) * c) // n_k
                END AS BIGINT) AS est_intersection,
           CAST(coalesce(ex.exact_common, 0) AS BIGINT)
               AS exact_intersection
    FROM est LEFT JOIN ex ON est.ga = ex.ga AND est.gb = ex.gb
    ORDER BY est.ga, est.gb
"""


# Count-Min sketch replay: md5 row hashes are engine-portable, so the
# oracle rebuilds the identical 4x256 sketch and the estimates (and
# overestimates) are exact-checked, not bounded
ORACLES_EXT["doc_token_count_min"] = r"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS v
        FROM documents),
    counts AS (SELECT v, count(*) AS c FROM toks GROUP BY v),
    rows_ AS (
        SELECT c, r.r,
               ('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || '|'
                                   || v), 1, 15))::BIGINT % 256 AS col
        FROM counts, unnest(range(0, 4)) AS r(r)),
    sketch AS (
        SELECT r, col, CAST(sum(c) AS BIGINT) AS cnt
        FROM rows_ GROUP BY r, col),
    probes AS (
        SELECT p.value, r.r,
               ('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || '|'
                                   || p.value), 1, 15))::BIGINT % 256
                   AS col
        FROM (SELECT unnest(['the', 'a', 'and', 'of', 'to']) AS value) p,
             unnest(range(0, 4)) AS r(r)),
    est AS (
        SELECT value,
               CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_estimate
        FROM probes LEFT JOIN sketch USING (r, col) GROUP BY value),
    exact AS (
        SELECT v AS value, CAST(c AS BIGINT) AS n_exact FROM counts
        WHERE v IN ('the', 'a', 'and', 'of', 'to'))
    SELECT value, coalesce(n_exact, 0) AS n_exact, cms_estimate,
           cms_estimate - coalesce(n_exact, 0) AS overestimate
    FROM est LEFT JOIN exact USING (value) ORDER BY value
"""


def _km_survival_oracle() -> str:
    """Kaplan-Meier twin: log-space product via the portable ln chain,
    fixed-point cumulative sums over the bounded week spine, survival
    back through the portable exp2 (timeseries.py:km_curve twin)."""
    from firebase_etl_spark.functions.portable_math import (
        LN2_LIT,
        exp2_select_sql,
        fixed_e6_expr,
        ln_select_sql,
    )

    risk_chain = ln_select_sql(
        "SELECT d.t, d.d, d.c, d.n_total - p.gone AS n"
        " FROM dense d JOIN prior p USING (t)",
        [("(n - d)", "__lnnd"), ("n", "__lnn")],
    )
    term = fixed_e6_expr("__lnnd - __lnn")
    surv_chain = exp2_select_sql(
        "SELECT * FROM cum",
        [(f"(CAST(__lns_e6 AS DOUBLE) / 1000000.0) / {LN2_LIT}",
          "__surv")],
    )
    return f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, event_type
        FROM events WHERE user_id IS NOT NULL),
    pu AS (
        SELECT user_id, min(us) AS t0,
               min(CASE WHEN event_type = 'purchase' THEN us END) AS conv
        FROM e GROUP BY user_id),
    mx AS (SELECT max(us) AS tmax FROM e),
    dur AS (
        SELECT (coalesce(conv, tmax) - t0) // 604800000000 AS dur,
               conv IS NOT NULL AS is_event
        FROM pu, mx),
    per_t AS (
        SELECT dur AS t,
               CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END)
                    AS BIGINT) AS d,
               CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END)
                    AS BIGINT) AS c
        FROM dur GROUP BY dur),
    tot AS (SELECT max(t) AS wmax,
                   CAST(sum(d + c) AS BIGINT) AS n_total FROM per_t),
    spine AS (
        SELECT n_total, t.t FROM tot,
               unnest(range(0, wmax + 1)) AS t(t)),
    dense AS (
        SELECT s.t, s.n_total,
               coalesce(p.d, 0) AS d, coalesce(p.c, 0) AS c
        FROM spine s LEFT JOIN per_t p USING (t)),
    prior AS (
        SELECT w.t, CAST(coalesce(sum(v.d + v.c), 0) AS BIGINT) AS gone
        FROM dense w LEFT JOIN dense v ON v.t < w.t GROUP BY w.t),
    terms AS (
        SELECT t, d, c, n,
               CASE WHEN n > d THEN {term} ELSE 0 END AS term_e6,
               CASE WHEN n > 0 AND n = d THEN 1 ELSE 0 END AS dies
        FROM ({risk_chain})),
    cum AS (
        SELECT w.t, w.n AS n_at_risk, w.d AS n_events,
               w.c AS n_censored,
               CAST(sum(v.term_e6) AS BIGINT) AS __lns_e6,
               max(v.dies) AS __dead
        FROM terms w JOIN terms v ON v.t <= w.t
        GROUP BY w.t, w.n, w.d, w.c)
    SELECT t, n_at_risk, n_events, n_censored,
           CASE WHEN __dead = 1 THEN 0.0
                ELSE round(__surv, 6) END AS survival
    FROM ({surv_chain}) ORDER BY t
"""


ORACLES_EXT["user_conversion_survival"] = _km_survival_oracle()


ORACLES_EXT["km_diag_counts"] = (
    # integer-spine discriminator for the KM curve: the full survival
    # oracle minus its one double column — red survival + green counts
    # localizes any driver divergence to the exp2/round tail
    "WITH rep AS ("
    + _km_survival_oracle()
    + ")\n    SELECT t, n_at_risk, n_events, n_censored FROM rep"
    " ORDER BY t"
)


def _logrank_oracle() -> str:
    """Log-rank twin: per-time O-E and variance terms from exact
    integer counts via IEEE basic ops (no transcendentals), 1e-6
    fixed-point, integer-summed over the bounded spine
    (timeseries.py:logrank_test twin)."""
    from firebase_etl_spark.functions.portable_math import fixed_e6_expr

    oe = fixed_e6_expr(
        "CAST(d0 AS DOUBLE) - (CAST(d AS DOUBLE) * n0 / n)"
    )
    vv = fixed_e6_expr(
        "((CAST(d AS DOUBLE) * n0 / n) * (CAST(n1 AS DOUBLE) / n))"
        " * ((CAST(n AS DOUBLE) - d) / (CAST(n AS DOUBLE) - 1))"
    )
    return f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, event_type
        FROM events WHERE user_id IS NOT NULL),
    pu AS (
        SELECT user_id, min(us) AS t0,
               min(CASE WHEN event_type = 'purchase' THEN us END) AS conv
        FROM e GROUP BY user_id),
    mx0 AS (SELECT max(us) AS tmax_us FROM e),
    dur AS (
        SELECT (coalesce(conv, tmax_us) - t0) // 604800000000 AS dur,
               conv IS NOT NULL AS is_event,
               user_id % 2 AS grp
        FROM pu, mx0),
    pt AS (
        SELECT dur AS t,
               CAST(sum(CASE WHEN is_event AND grp = 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS d0,
               CAST(sum(CASE WHEN NOT is_event AND grp = 0 THEN 1
                        ELSE 0 END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN is_event AND grp = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS d1,
               CAST(sum(CASE WHEN NOT is_event AND grp = 1 THEN 1
                        ELSE 0 END) AS BIGINT) AS c1
        FROM dur GROUP BY dur),
    tot AS (
        SELECT max(t) AS wmax,
               CAST(sum(d0 + c0) AS BIGINT) AS t0g,
               CAST(sum(d1 + c1) AS BIGINT) AS t1g
        FROM pt),
    spine AS (
        SELECT t0g, t1g, t.t FROM tot,
               unnest(range(0, wmax + 1)) AS t(t)),
    dense AS (
        SELECT s.t, s.t0g, s.t1g,
               coalesce(p.d0, 0) AS d0, coalesce(p.c0, 0) AS c0,
               coalesce(p.d1, 0) AS d1, coalesce(p.c1, 0) AS c1
        FROM spine s LEFT JOIN pt p USING (t)),
    prior AS (
        SELECT w.t,
               coalesce(sum(v.d0 + v.c0), 0) AS gone0,
               coalesce(sum(v.d1 + v.c1), 0) AS gone1
        FROM dense w LEFT JOIN dense v ON v.t < w.t GROUP BY w.t),
    risk AS (
        SELECT d.t, d.d0, d.d1,
               d.t0g - p.gone0 AS n0,
               d.t1g - p.gone1 AS n1,
               d.d0 + d.d1 AS d,
               d.t0g - p.gone0 + d.t1g - p.gone1 AS n
        FROM dense d JOIN prior p USING (t)),
    terms AS (
        SELECT CASE WHEN d > 0 AND n > 0 THEN {oe} ELSE 0 END AS oe_e6,
               CASE WHEN d > 0 AND n > 1 THEN {vv} ELSE 0 END AS v_e6,
               d0, d1
        FROM risk),
    s AS (
        SELECT CAST(sum(oe_e6) AS BIGINT) AS oe_e6,
               CAST(sum(v_e6) AS BIGINT) AS v_e6,
               CAST(sum(d0) AS BIGINT) AS events_a,
               CAST(sum(d1) AS BIGINT) AS events_b
        FROM terms)
    SELECT '0' AS grp_a, '1' AS grp_b,
           tot.t0g AS n_a, tot.t1g AS n_b, events_a, events_b,
           round(CAST(oe_e6 AS DOUBLE) / 1000000.0, 4)
               AS observed_minus_expected,
           CASE WHEN v_e6 > 0
                THEN round(((CAST(oe_e6 AS DOUBLE) / 1000000.0)
                            * (CAST(oe_e6 AS DOUBLE) / 1000000.0))
                           / (CAST(v_e6 AS DOUBLE) / 1000000.0), 4)
           END AS chi2
    FROM s, tot
"""


ORACLES_EXT["conversion_ab_logrank"] = _logrank_oracle()


def _mutual_info_oracle() -> str:
    """MI twin: observed-cell o·(ln o + ln n − ln r − ln c) terms over
    the PORTABLE ln chain, 1e-6 fixed-point, integer-summed (stats.py:
    mutual_information twin)."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )

    chain = ln_select_sql(
        "SELECT cells.o, ra.r, cb.c, tot.n, tot.ka, tot.kb"
        " FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot",
        [
            ("o", "__lno"),
            ("r", "__lnr"),
            ("c", "__lnc"),
            ("n", "__lnn"),
        ],
    )
    k_chain = ln_select_sql(
        "SELECT * FROM s", [("least(ka, kb)", "__lnk")]
    )
    term = fixed_e6_expr("o * ((__lno + __lnn) - (__lnr + __lnc))")
    return f"""
    WITH base AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
    cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b),
    ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
    cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
    tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n,
               (SELECT count(*) FROM ra) AS ka,
               (SELECT count(*) FROM cb) AS kb
        FROM cells),
    s AS (
        SELECT n, ka, kb, CAST(sum({term}) AS BIGINT) AS mi_e6
        FROM ({chain}) GROUP BY n, ka, kb)
    SELECT 'o_orderpriority x o_orderstatus' AS pair,
           n AS n_rows, ka, kb,
           round(CAST(mi_e6 AS DOUBLE) / 1000000.0 / n, 6) AS mi_nats,
           CASE WHEN least(ka, kb) > 1
                THEN round(CAST(mi_e6 AS DOUBLE) / 1000000.0 / n
                           / __lnk, 6)
           END AS mi_ratio
    FROM ({k_chain})
"""


ORACLES_EXT["orders_mutual_information"] = _mutual_info_oracle()


# feature-hashed sparse embedding retrieval: replays the md5 bucket and
# sign hashes verbatim; cosines derive from exact integer sums via IEEE
# sqrt/divide, so no fixed-point machinery is needed
ORACLES_EXT["doc_hashed_embedding_topk"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents),
    counts AS (
        SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
    rows_ AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bucket,
               (1 - 2 * (('0x' || substr(md5('sgn' || w), 1, 1))::BIGINT
                         % 2)) * c AS sc
        FROM counts),
    vecs AS (
        SELECT doc_id, bucket, CAST(sum(sc) AS BIGINT) AS s
        FROM rows_ GROUP BY doc_id, bucket HAVING sum(sc) <> 0),
    norms AS (
        SELECT doc_id, CAST(sum(s * s) AS BIGINT) AS nn
        FROM vecs GROUP BY doc_id),
    probes AS (
        SELECT doc_id AS query_id, bucket, s AS qs
        FROM vecs WHERE doc_id IN (0, 1, 2, 3, 4)),
    dots AS (
        SELECT p.query_id, v.doc_id,
               CAST(sum(p.qs * v.s) AS BIGINT) AS dot
        FROM vecs v JOIN probes p USING (bucket)
        WHERE v.doc_id <> p.query_id
        GROUP BY p.query_id, v.doc_id),
    scored AS (
        SELECT d.query_id, d.doc_id,
               round(d.dot / (sqrt(CAST(qn.nn AS DOUBLE))
                              * sqrt(CAST(n.nn AS DOUBLE))), 6) AS cos_sim
        FROM dots d
        JOIN norms n ON n.doc_id = d.doc_id
        JOIN norms qn ON qn.doc_id = d.query_id)
    SELECT query_id, doc_id, cos_sim, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, doc_id
        ) AS rank FROM scored
    ) WHERE rank <= 10
"""


# REAL audio-codec verification: recompute the PCM sample statistics
# from the closed-form generator — no RIFF parser here, so any chunk/
# byte-order/sign bug in the Python codec fails the hash
ORACLES_EXT["media_wav_decode_stats"] = """
    WITH clips AS (
        SELECT doc_id, CAST(50 + doc_id % 50 AS BIGINT) AS n
        FROM documents),
    smp AS (
        SELECT doc_id, n,
               ((doc_id * 37 + t.t * 17) % 2048) - 1024 AS v
        FROM clips, unnest(range(0, n)) AS t(t)),
    per AS (
        SELECT doc_id, n,
               CAST(sum(v) AS BIGINT) AS sum_amp,
               CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
               CAST(sum(v * v) AS BIGINT) AS sum_sq,
               CAST(max(abs(v)) AS INT) AS peak
        FROM smp GROUP BY doc_id, n)
    SELECT n AS n_samples, count(*) AS n_clips,
           CAST(8000 AS INT) AS sample_rate,
           CAST(sum(sum_amp) AS BIGINT) AS total_amp,
           CAST(sum(sum_abs) AS BIGINT) AS total_abs,
           CAST(sum(sum_sq) AS BIGINT) AS total_energy,
           CAST(max(peak) AS INT) AS max_peak,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM per GROUP BY n ORDER BY n
"""


# thumbnail twin: replays the nearest-neighbor index math
# src = (dst * src_dim) // dst_dim on the closed-form pixels
ORACLES_EXT["media_bmp_thumbnail_stats"] = """
    WITH dims AS (
        SELECT doc_id,
               CAST(4 + doc_id % 5 AS INT) AS w,
               CAST(3 + doc_id % 4 AS INT) AS h
        FROM documents),
    px AS (
        SELECT doc_id,
               (t.x * w) // 3 AS sx,
               (u.y * h) // 2 AS sy
        FROM dims,
             unnest(range(0, 3)) AS t(x),
             unnest(range(0, 2)) AS u(y)),
    per AS (
        SELECT doc_id, count(*) AS n_px,
               sum((doc_id * 31 + sx * 7 + sy * 13) % 256) AS sum_b,
               sum((doc_id * 31 + sx * 7 + sy * 13 + 101) % 256) AS sum_g,
               sum((doc_id * 31 + sx * 7 + sy * 13 + 202) % 256) AS sum_r
        FROM px GROUP BY doc_id)
    SELECT CAST(3 AS INT) AS width, CAST(2 AS INT) AS height,
           count(*) AS n_images,
           CAST(sum(n_px) AS BIGINT) AS total_px,
           CAST(sum(sum_b) AS BIGINT) AS total_b,
           CAST(sum(sum_g) AS BIGINT) AS total_g,
           CAST(sum(sum_r) AS BIGINT) AS total_r,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM per GROUP BY width, height ORDER BY width, height
"""


ORACLES_EXT["doc_source_drift"] = """
    -- NULL value rows excluded up front (stats.py mirror, ADVICE r5 #1)
    WITH nn AS (
        SELECT source, n_chars FROM documents WHERE n_chars IS NOT NULL),
    scal AS (
        SELECT min(n_chars) AS lo, max(n_chars) AS hi,
               count(*) AS n FROM nn),
    binned AS (
        SELECT source AS grp,
               CASE WHEN hi = lo THEN 0
                    ELSE least(CAST(floor((n_chars - lo)
                               / ((hi - lo) / 20.0)) AS INT), 19)
               END AS bin
        FROM nn CROSS JOIN scal),
    hist AS (
        SELECT grp, bin, count(*) AS c FROM binned GROUP BY grp, bin),
    spine AS (
        SELECT grp, t.bin
        FROM (SELECT DISTINCT grp FROM hist)
        CROSS JOIN (SELECT unnest(range(0, 20)) AS bin) t),
    dense AS (
        SELECT spine.grp, spine.bin, coalesce(hist.c, 0) AS c
        FROM spine LEFT JOIN hist USING (grp, bin)),
    win AS (
        SELECT grp, c,
               sum(c) OVER (PARTITION BY bin) AS corpus_bin,
               sum(c) OVER (PARTITION BY grp) AS n_grp
        FROM dense),
    gaps AS (
        SELECT grp, n_grp,
               CAST(round(abs(c * 1.0 / n_grp
                              - corpus_bin * 1.0 / (SELECT n FROM scal))
                          * 1000000.0, 0) AS BIGINT) AS gap_e6
        FROM win)
    SELECT grp AS source, CAST(n_grp AS BIGINT) AS n_docs,
           round((sum(gap_e6) / 2000000.0) + 1e-9 + abs(sum(gap_e6) / 2000000.0) * CAST('9.094947017729282e-13' AS DOUBLE), 6) AS tv_distance,
           max(gap_e6) / 1000000.0 AS max_bin_gap
    FROM gaps GROUP BY grp, n_grp ORDER BY source
"""


ORACLES_EXT["events_value_drift"] = """
    -- NULL value rows excluded up front (stats.py mirror, ADVICE r5 #1)
    WITH nn AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL),
    scal AS (
        SELECT min(value) AS lo, max(value) AS hi,
               count(*) AS n FROM nn),
    binned AS (
        SELECT event_type AS grp,
               CASE WHEN hi = lo THEN 0
                    ELSE least(CAST(floor((value - lo)
                               / ((hi - lo) / 20.0)) AS INT), 19)
               END AS bin
        FROM nn CROSS JOIN scal),
    hist AS (
        SELECT grp, bin, count(*) AS c FROM binned GROUP BY grp, bin),
    spine AS (
        SELECT grp, t.bin
        FROM (SELECT DISTINCT grp FROM hist)
        CROSS JOIN (SELECT unnest(range(0, 20)) AS bin) t),
    dense AS (
        SELECT spine.grp, spine.bin, coalesce(hist.c, 0) AS c
        FROM spine LEFT JOIN hist USING (grp, bin)),
    win AS (
        SELECT grp, c,
               sum(c) OVER (PARTITION BY bin) AS corpus_bin,
               sum(c) OVER (PARTITION BY grp) AS n_grp
        FROM dense),
    gaps AS (
        SELECT grp, n_grp,
               CAST(round(abs(c * 1.0 / n_grp
                              - corpus_bin * 1.0 / (SELECT n FROM scal))
                          * 1000000.0, 0) AS BIGINT) AS gap_e6
        FROM win)
    SELECT grp AS event_type, CAST(n_grp AS BIGINT) AS n_docs,
           round((sum(gap_e6) / 2000000.0) + 1e-9 + abs(sum(gap_e6) / 2000000.0) * CAST('9.094947017729282e-13' AS DOUBLE), 6) AS tv_distance,
           max(gap_e6) / 1000000.0 AS max_bin_gap
    FROM gaps GROUP BY grp, n_grp ORDER BY event_type
"""


ORACLES_EXT["stream_orders_sqlstore_tail"] = """
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


ORACLES_EXT["documents_snapshot_diff"] = r"""
    WITH v1 AS (
        SELECT doc_id, lang,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    v2 AS (
        SELECT doc_id, lang,
               md5(regexp_replace(lower(trim(
                   CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                        ELSE text END)), '\s+', ' ', 'g')) AS fp
        FROM documents
        WHERE substr(md5(text), 32, 1) NOT IN ('0', '1', '2', '3')),
    j AS (
        SELECT coalesce(v1.lang, v2.lang) AS lang,
               v1.fp AS fp1, v2.fp AS fp2
        FROM v1 FULL OUTER JOIN v2 USING (doc_id))
    SELECT lang,
           CAST(sum(CASE WHEN fp1 IS NOT NULL AND fp2 IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN fp1 IS NULL AND fp2 IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(sum(CASE WHEN fp1 IS NOT NULL AND fp2 IS NOT NULL
                         AND fp1 <> fp2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           CAST(sum(CASE WHEN fp1 = fp2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unchanged
    FROM j GROUP BY lang ORDER BY lang
"""


ORACLES_EXT["events_heavy_hitters"] = """
    -- exact side replayed; within_bound is the sketch's contribution:
    -- the merged Misra-Gries estimate provably sits in
    -- [exact - n/k, exact], so the literal TRUE is a real, stable check
    SELECT event_type AS value,
           count(*) AS n_exact,
           TRUE AS within_bound
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    ORDER BY n_exact DESC, value LIMIT 5
"""


def _kmeans_centroid_ctes(k: int = 8, n_iter: int = 3) -> str:
    """Shared chained-CTE prefix replaying every Lloyd round (the
    BPE-oracle pattern: iteration count is a build-time constant, so
    the whole fit unrolls into ONE static SQL string) — ends at
    ``c{n_iter}`` (cid, unit-norm centroid list) plus the unit-vector
    corpus ``v`` (vec_id, lbl, e). Each round = argmax assignment
    (row_number over 6dp cosines, ties to the lower cell id) + fixed-
    point BIGINT per-dimension sums -> new centroid lists; empty cells
    carry the previous centroid forward (clustering.py twin). Consumed
    by both the k-means label report and the trained-IVF replay."""
    cos = (
        "round(list_inner_product(v.e, p.c)"
        " / (sqrt(list_inner_product(v.e, v.e))"
        " * sqrt(list_inner_product(p.c, p.c))), 6)"
    )
    parts = [
        f"""WITH ve AS (
    SELECT vec_id, COALESCE(label, -1) AS lbl,
           CAST(embedding AS DOUBLE[]) AS e0
    FROM embeddings
    WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0),
v AS (
    SELECT vec_id, lbl,
           list_transform(
               e0, x -> x / sqrt(list_inner_product(e0, e0))) AS e
    FROM ve),
c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
           e AS c
    FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k}))"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"""x{i} AS (
    SELECT v.vec_id, p.cid, {cos} AS cos_r
    FROM v CROSS JOIN c{i - 1} p),
a{i} AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_r DESC, cid) AS rn
        FROM x{i}) WHERE rn = 1),
s{i} AS (
    SELECT a.cid, t.pos,
           CAST(sum(CAST(round(v.e[t.pos] * 1000000.0, 0) AS BIGINT))
                AS BIGINT) AS s_e6,
           count(*) AS n
    FROM a{i} a JOIN v ON a.vec_id = v.vec_id,
         unnest(range(1, len(v.e) + 1)) AS t(pos)
    GROUP BY a.cid, t.pos),
n{i} AS (
    SELECT cid, list(s_e6 * 1.0 / (1000000.0 * n) ORDER BY pos) AS m
    FROM s{i} GROUP BY cid),
r{i} AS (
    SELECT cid,
           list_transform(m, x -> x / sqrt(list_inner_product(m, m))) AS c
    FROM n{i} WHERE list_inner_product(m, m) > 0),
c{i} AS (
    SELECT cid, c FROM r{i}
    UNION ALL
    SELECT cid, c FROM c{i - 1}
    WHERE cid NOT IN (SELECT cid FROM r{i}))""")
    return ",\n".join(parts)


def _kmeans_oracle(k: int = 8, n_iter: int = 3) -> str:
    """Label-report tail over the shared Lloyd prefix."""
    cos = (
        "round(list_inner_product(v.e, p.c)"
        " / (sqrt(list_inner_product(v.e, v.e))"
        " * sqrt(list_inner_product(p.c, p.c))), 6)"
    )
    tail = f"""fx AS (
    SELECT v.vec_id, v.lbl, p.cid, {cos} AS cos_r
    FROM v CROSS JOIN c{n_iter} p),
fa AS (
    SELECT vec_id, lbl, cid, cos_r FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_r DESC, cid) AS rn
        FROM fx) WHERE rn = 1),
pl AS (
    SELECT cid, lbl, count(*) AS cnt,
           CAST(sum(CAST(round(cos_r * 1000000.0, 0) AS BIGINT))
                AS BIGINT) AS cos_e6
    FROM fa GROUP BY cid, lbl),
mj AS (
    SELECT cid, lbl AS majority_label, cnt AS mj_cnt FROM (
        SELECT *, row_number() OVER (
            PARTITION BY cid ORDER BY cnt DESC, lbl) AS rn
        FROM pl) WHERE rn = 1),
ag AS (
    SELECT cid, CAST(sum(cnt) AS BIGINT) AS n_vecs,
           CAST(sum(cos_e6) AS BIGINT) AS cos_e6
    FROM pl GROUP BY cid)
SELECT ag.cid AS cluster, ag.n_vecs,
       round((ag.cos_e6 / (ag.n_vecs * 1000000.0)) + 1e-9 + abs(ag.cos_e6 / (ag.n_vecs * 1000000.0)) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS avg_cos,
       mj.majority_label,
       round((mj.mj_cnt * 1.0 / ag.n_vecs) + 1e-9 + abs(mj.mj_cnt * 1.0 / ag.n_vecs) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS purity
FROM ag JOIN mj ON ag.cid = mj.cid
ORDER BY cluster"""
    return _kmeans_centroid_ctes(k, n_iter) + ",\n" + tail


ORACLES_EXT["embedding_kmeans_clusters"] = _kmeans_oracle()


def _kcenter_oracle(k: int = 6) -> str:
    """Unrolled greedy maximin replay (clustering.py:kcenter_seeds
    twin): one CTE layer per selection round — distance = 1e6 - round
    of the max 6dp seed cosine, argmax ties to the lower vec_id, seed
    set accumulated by UNION ALL; then the final coverage pass over
    the complete seed set."""
    cos = (
        "round(list_inner_product(v.e, p.e)"
        " / (sqrt(list_inner_product(v.e, v.e))"
        " * sqrt(list_inner_product(p.e, p.e))), 6)"
    )
    parts = [
        """WITH ve AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0
    FROM embeddings
    WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0),
v AS (
    SELECT vec_id,
           list_transform(
               e0, x -> x / sqrt(list_inner_product(e0, e0))) AS e
    FROM ve),
s0 AS (
    SELECT 0 AS seed_rank, vec_id, e, CAST(2000000 AS BIGINT) AS sel
    FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1))"""
    ]
    for i in range(1, k):
        parts.append(f"""d{i} AS (
    SELECT v.vec_id, v.e,
           1000000 - CAST(round(max({cos}) * 1000000.0, 0) AS BIGINT)
               AS dist
    FROM v CROSS JOIN s{i - 1} p
    WHERE v.vec_id NOT IN (SELECT vec_id FROM s{i - 1})
    GROUP BY v.vec_id, v.e),
p{i} AS (
    SELECT {i} AS seed_rank, vec_id, e, dist AS sel FROM d{i}
    ORDER BY dist DESC, vec_id LIMIT 1),
s{i} AS (SELECT * FROM s{i - 1} UNION ALL SELECT * FROM p{i})""")
    tail = f"""cov AS (
    SELECT v.vec_id,
           1000000 - CAST(round(max({cos}) * 1000000.0, 0) AS BIGINT)
               AS dist
    FROM v CROSS JOIN s{k - 1} p GROUP BY v.vec_id),
agg AS (
    SELECT CAST(max(dist) AS BIGINT) AS cover_radius_e6,
           CAST(sum(dist) AS BIGINT) // count(*) AS cover_mean_e6
    FROM cov)
SELECT s.seed_rank, s.vec_id, s.sel AS sel_dist_e6,
       agg.cover_radius_e6, CAST(agg.cover_mean_e6 AS BIGINT)
           AS cover_mean_e6
FROM s{k - 1} s CROSS JOIN agg ORDER BY s.seed_rank"""
    return ",\n".join(parts) + ",\n" + tail


ORACLES_EXT["embedding_kcenter_seeds"] = _kcenter_oracle()


ORACLES_EXT["part_copurchase_pairs"] = """
    WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
    ic AS (SELECT it, count(*) AS ic FROM b GROUP BY it),
    fr AS (SELECT it, ic FROM ic WHERE ic >= 2),
    bf AS (SELECT b.bk, b.it FROM b JOIN fr ON b.it = fr.it),
    pr AS (
        SELECT a.it AS p1, z.it AS p2, count(*) AS pair_count
        FROM bf a JOIN bf z ON a.bk = z.bk AND a.it < z.it
        GROUP BY a.it, z.it HAVING count(*) >= 2)
    SELECT pr.p1, pr.p2, CAST(pr.pair_count AS BIGINT) AS pair_count,
           round((pr.pair_count * 1.0 / nb.n_baskets) + 1e-9 + abs(pr.pair_count * 1.0 / nb.n_baskets) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS support,
           round(((pr.pair_count * nb.n_baskets * 1.0)
                 / (c1.ic * c2.ic)) + 1e-9 + abs((pr.pair_count * nb.n_baskets * 1.0)
                 / (c1.ic * c2.ic)) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS lift
    FROM pr
    JOIN fr c1 ON pr.p1 = c1.it
    JOIN fr c2 ON pr.p2 = c2.it
    CROSS JOIN nb
    ORDER BY pair_count DESC, p1, p2 LIMIT 20
"""


ORACLES_EXT["part_copurchase_triangles"] = """
    -- canonical a<b<c three-way join counts each triangle exactly once;
    -- the Spark side's degree-ordered orientation is a cost device, not
    -- a semantic one
    WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    e AS (
        SELECT a.it AS p1, z.it AS p2
        FROM b a JOIN b z ON a.bk = z.bk AND a.it < z.it
        GROUP BY a.it, z.it HAVING count(*) >= 2),
    deg AS (
        SELECT n, count(*) AS d FROM (
            SELECT p1 AS n FROM e UNION ALL SELECT p2 AS n FROM e)
        GROUP BY n),
    tri AS (
        SELECT count(*) AS c
        FROM e e1
        JOIN e e2 ON e2.p1 = e1.p2
        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(CAST(sum(d * (d - 1)) AS BIGINT) // 2 AS BIGINT)
                   AS n_wedges
        FROM deg),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT agg.n_nodes, ne.n_edges, agg.n_wedges,
           CAST(tri.c AS BIGINT) AS n_triangles,
           CASE WHEN agg.n_wedges > 0
                THEN round((3 * tri.c) / agg.n_wedges, 4)
                ELSE 0.0 END AS clustering
    FROM agg CROSS JOIN ne CROSS JOIN tri
"""


ORACLES_EXT["documents_passage_chunks"] = r"""
    WITH base AS (
        SELECT doc_id, COALESCE(lang, '??') AS lang,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
    c AS (
        SELECT doc_id, lang, toks, len(toks) AS n,
               1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS BIGINT)
                   AS nch
        FROM base),
    ch AS (
        SELECT doc_id, lang,
               least(32, n - t.ci * 24) AS ntk,
               array_to_string(
                   list_slice(toks, t.ci * 24 + 1,
                              t.ci * 24 + least(32, n - t.ci * 24)),
                   ' ') AS ctext
        FROM c, unnest(range(0, nch)) AS t(ci))
    SELECT lang,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_chunks,
           CAST(sum(ntk) AS BIGINT) AS total_chunk_tokens,
           CAST(sum(CASE WHEN ntk < 32 THEN 1 ELSE 0 END) AS BIGINT)
               AS short_chunks,
           bit_xor(('0x' || substr(md5(ctext), 1, 15))::BIGINT)
               AS content_checksum
    FROM ch GROUP BY lang ORDER BY lang
"""


def _ivf_trained_oracle(k: int = 16, n_iter: int = 3, n_probe: int = 4) -> str:
    """Trained-IVF replay: the shared Lloyd prefix produces c{n_iter}
    (unit centroids), then the standard IVF tail (assignment / probe /
    candidate / exact re-rank — embedding_topk_ivf's oracle shape, dot
    without norm division since both sides are unit, mirroring
    ivf_topk's expressions op-for-op)."""
    tail = f"""sims AS (
    SELECT v.vec_id, p.cid,
           round(list_inner_product(v.e, p.c), 6) AS cos
    FROM v CROSS JOIN c{n_iter} p),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM sims) WHERE rn = 1),
probes AS (
    SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM sims WHERE vec_id IN (0, 1, 2, 3, 4)
    ) WHERE rn <= {n_probe}),
cand AS (
    SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cid)),
scored AS (
    SELECT cd.query_id, cd.vec_id,
           round(list_inner_product(q.e, t.e), 6) AS cosine_sim
    FROM cand cd
    JOIN v q ON q.vec_id = cd.query_id
    JOIN v t ON t.vec_id = cd.vec_id)
SELECT query_id, vec_id, cosine_sim, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
    FROM scored) WHERE rank <= 10
ORDER BY query_id, rank"""
    return _kmeans_centroid_ctes(k, n_iter) + ",\n" + tail


ORACLES_EXT["embedding_topk_ivf_trained"] = _ivf_trained_oracle()


# composed verbatim from the three registered single-signal oracles —
# the ensemble IS their composition, so the twin must be too
ORACLES_EXT["doc_neardup_ensemble"] = f"""
    WITH mh AS ({ORACLES_EXT["doc_minhash_near_dups"]}),
         wn AS ({ORACLES_EXT["doc_winnow_near_dups"]}),
         em AS ({ORACLES_EXT["embedding_near_dup_pairs"]}),
         allp AS (
            SELECT id_a, id_b,
                   max(lex) AS lex, max(fp) AS fp, max(sem) AS sem
            FROM (
                SELECT id_a, id_b, 1 AS lex, 0 AS fp, 0 AS sem FROM mh
                UNION ALL
                SELECT id_a, id_b, 0, 1, 0 FROM wn
                UNION ALL
                SELECT id_a, id_b, 0, 0, 1 FROM em)
            GROUP BY id_a, id_b)
    SELECT id_a, id_b, lex + fp + sem AS votes, lex, fp, sem
    FROM allp
    ORDER BY votes DESC, id_a, id_b
"""


ORACLES_EXT["doc_vocab_growth"] = r"""
    WITH base AS (
        SELECT doc_id AS did,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
    bounds AS (
        SELECT min(did) AS lo, max(did) - min(did) + 1 AS width FROM base),
    docs AS (
        SELECT CAST(floor(((did - lo) * 10) / width) AS INT) AS b, toks
        FROM base, bounds),
    tok AS (SELECT b, unnest(toks) AS term FROM docs),
    bdoc AS (SELECT b, count(*) AS n_docs FROM docs GROUP BY b),
    btok AS (SELECT b, count(*) AS n_tokens FROM tok GROUP BY b),
    nt AS (
        SELECT b, count(*) AS new_terms FROM (
            SELECT term, min(b) AS b FROM tok GROUP BY term)
        GROUP BY b),
    spine AS (SELECT CAST(r AS INT) AS bucket FROM range(0, 10) t(r)),
    per AS (
        SELECT bucket,
               CAST(COALESCE(bdoc.n_docs, 0) AS BIGINT) AS n_docs,
               CAST(COALESCE(btok.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(nt.new_terms, 0) AS BIGINT) AS new_terms
        FROM spine
        LEFT JOIN bdoc ON bdoc.b = spine.bucket
        LEFT JOIN btok ON btok.b = spine.bucket
        LEFT JOIN nt ON nt.b = spine.bucket),
    cum AS (
        SELECT x.bucket,
               CAST(sum(y.n_tokens) AS BIGINT) AS cum_tokens,
               CAST(sum(y.new_terms) AS BIGINT) AS cum_vocab
        FROM per x JOIN per y ON y.bucket <= x.bucket
        GROUP BY x.bucket)
    SELECT per.bucket, per.n_docs, per.n_tokens, per.new_terms,
           cum.cum_tokens, cum.cum_vocab
    FROM per JOIN cum USING (bucket)
    ORDER BY bucket
"""


ORACLES_EXT["doc_vocab_unseen_mass"] = r"""
    WITH tf AS (
        SELECT term, count(*) AS c FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                   AS term
            FROM documents)
        GROUP BY term)
    SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_doubletons,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / sum(c), 6)
               AS p_unseen,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS singleton_frac
    FROM tf
"""


def _weighted_sample_oracle() -> str:
    """Efraimidis-Spirakis log-key twin over the PORTABLE ln — the
    chain is the verbatim step list stats.py:weighted_sample runs, so
    the 9dp-rounded priorities quantize bit-identical doubles instead
    of two libms' ulp-divergent ln(u)."""
    from firebase_etl_spark.functions.portable_math import ln_select_sql

    chain = ln_select_sql(
        """SELECT doc_id, lang, n_chars,
                  ('0x' || substr(md5('ws1' || CAST(doc_id AS VARCHAR)),
                                  1, 15))::BIGINT + 1 AS __ws_num
           FROM documents
           WHERE CAST(n_chars AS DOUBLE) > 0""",
        [("__ws_num", "__ws_lnnum"), (str(1 << 60), "__ws_lnden")],
    )
    return f"""
    SELECT doc_id, lang, n_chars,
           round((__ws_lnnum - __ws_lnden) / CAST(n_chars AS DOUBLE), 9)
               AS priority
    FROM ({chain})
    ORDER BY priority DESC, doc_id
    LIMIT 50
"""


ORACLES_EXT["documents_weighted_sample"] = _weighted_sample_oracle()


ORACLES_EXT["documents_grouped_split"] = f"""
    WITH u AS (
        SELECT doc_id, lang, n_chars, source,
               ('0x' || substr(md5('gs1' || source), 1, 15))::BIGINT AS u
        FROM documents)
    SELECT lang,
           CASE WHEN u < {(1 << 60) * 70 // 100} THEN 'train'
                WHEN u < {(1 << 60) * 85 // 100} THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS chars_total
    FROM u GROUP BY lang, split ORDER BY lang, split
"""


ORACLES_EXT["events_transition_matrix"] = """
    WITH t AS (
        SELECT event_type AS cur_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
    c AS (
        SELECT cur_type, next_type, count(*) AS n_transitions
        FROM t WHERE next_type IS NOT NULL
        GROUP BY cur_type, next_type),
    tot AS (
        SELECT cur_type, CAST(sum(n_transitions) AS BIGINT) AS n_out
        FROM c GROUP BY cur_type)
    SELECT c.cur_type, c.next_type, c.n_transitions,
           round(c.n_transitions * 1.0 / tot.n_out, 4) AS p_next
    FROM c JOIN tot USING (cur_type)
    ORDER BY cur_type, next_type
"""


ORACLES_EXT["documents_bloom_decontamination"] = r"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), g AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS gram
        FROM toks
    ), probe AS (
        SELECT DISTINCT gram FROM g WHERE doc_id % 89 = 0
    ), ov AS (
        SELECT doc_id, count(*) AS overlap
        FROM g JOIN probe USING (gram)
        WHERE doc_id % 89 <> 0
        GROUP BY doc_id
    ), docs AS (
        SELECT d.source, coalesce(ov.overlap, 0) AS overlap
        FROM documents d LEFT JOIN ov USING (doc_id)
        WHERE d.doc_id % 89 <> 0
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN overlap >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(max(overlap) AS BIGINT) AS max_overlap,
           CAST(sum(overlap) AS BIGINT) AS total_overlap,
           round(avg(CAST(overlap >= 2 AS INT)), 6) AS contamination_rate
    FROM docs GROUP BY source ORDER BY source
"""


def _zipf_oracle() -> str:
    """Zipf twin over the PORTABLE libm-free ln (rank and freq are
    integers; both engines quantize the identical double — preemptive
    DSIR-class hardening, VERDICT r5 next-round #1)."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )

    chain = ln_select_sql(
        "SELECT rank, freq FROM ranked",
        [("rank", "__lnr"), ("freq", "__lnf")],
    )
    x, y = fixed_e6_expr("__lnr"), fixed_e6_expr("__lnf")
    return rf"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS term
        FROM documents
    ), tf AS (
        SELECT term, count(*) AS freq FROM toks GROUP BY term
    ), totals AS (
        SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
               count(*) AS vocab_size
        FROM tf
    ), top AS (
        SELECT term, freq FROM tf ORDER BY freq DESC, term ASC LIMIT 100
    ), ranked AS (
        SELECT a.term, a.freq, count(*) AS rank
        FROM top a JOIN top b
          ON b.freq > a.freq OR (b.freq = a.freq AND b.term <= a.term)
        GROUP BY a.term, a.freq
    ), pts AS (
        SELECT {x} AS x, {y} AS y
        FROM ({chain})
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_int,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM pts
    )
    SELECT t.n_tokens, t.vocab_size, s.n_int AS n_top_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS zipf_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                     / n / 1000000.0, 6) AS zipf_intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS zipf_r2
    FROM totals t, s
"""


ORACLES_EXT["doc_zipf_slope"] = _zipf_oracle()


ORACLES_EXT["embedding_mutual_knn"] = """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id % 37 = 0
    ), sims AS (
        SELECT a.vec_id AS qa, b.vec_id AS qb,
               round(list_inner_product(a.e, b.e)
                     / (sqrt(list_inner_product(a.e, a.e))
                        * sqrt(list_inner_product(b.e, b.e))),
                     6) AS cosine_sim
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ), knn AS (
        SELECT * FROM (
            SELECT qa, qb, cosine_sim, row_number() OVER (
                PARTITION BY qa ORDER BY cosine_sim DESC, qb
            ) AS r FROM sims
        ) WHERE r <= 5
    )
    SELECT n1.qa AS id_a, n1.qb AS id_b,
           CAST(n1.r AS INT) AS rank_ab, CAST(n2.r AS INT) AS rank_ba,
           n1.cosine_sim
    FROM knn n1 JOIN knn n2 ON n1.qa = n2.qb AND n1.qb = n2.qa
    WHERE n1.qa < n1.qb
    ORDER BY id_a, id_b
"""


ORACLES_EXT["embedding_knn_outliers"] = """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), probes AS (
        SELECT vec_id AS query_id, e AS q FROM v WHERE vec_id % 23 = 0
    ), sims AS (
        SELECT query_id, vec_id,
               round(list_inner_product(e, q)
                     / (sqrt(list_inner_product(e, e))
                        * sqrt(list_inner_product(q, q))),
                     6) AS cosine_sim
        FROM v CROSS JOIN probes WHERE vec_id <> query_id
    ), top AS (
        SELECT * FROM (
            SELECT query_id, vec_id, cosine_sim, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id
            ) AS r FROM sims
        ) WHERE r <= 10
    )
    SELECT query_id, max(cosine_sim) AS top1_sim,
           round((CAST(sum(CAST(round(cosine_sim * 1000000.0, 0) AS BIGINT))
                          AS DOUBLE)
                     / count(*) / 1000000.0) + 1e-9 + abs(CAST(sum(CAST(round(cosine_sim * 1000000.0, 0) AS BIGINT))
                          AS DOUBLE)
                     / count(*) / 1000000.0) * CAST('9.094947017729282e-13' AS DOUBLE), 6) AS mean_topk_sim,
           min(cosine_sim) AS kth_sim,
           min(cosine_sim) < 0.25 AS is_isolated
    FROM top GROUP BY query_id
    ORDER BY kth_sim, query_id
"""


def _lpa_layers(n_iter: int = 5) -> list[str]:
    """Shared CTE layers replaying operators/graph.py:label_propagation
    on the co-purchase graph: one layer per synchronous round; the
    (count desc, label asc) election is a row_number pick — identical to
    the Spark side's min(struct(-count, label)) on integer inputs.
    Consumed by _lpa_oracle (community sizes) and _modularity_oracle
    (the Q audit over the same final labels)."""
    layers = [
        """b AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    e AS MATERIALIZED (
        SELECT a.it AS p1, z.it AS p2
        FROM b a JOIN b z ON a.bk = z.bk AND a.it < z.it
        GROUP BY a.it, z.it HAVING count(*) >= 2),
    sym AS MATERIALIZED (
        SELECT p1 AS nbr, p2 AS v FROM e
        UNION ALL
        SELECT p2 AS nbr, p1 AS v FROM e),
    l0 AS (SELECT DISTINCT v AS node, v AS label FROM sym)"""
    ]
    for i in range(n_iter):
        layers.append(
            f"""l{i + 1} AS MATERIALIZED (
        SELECT v AS node, label FROM (
            SELECT v, label, row_number() OVER (
                PARTITION BY v ORDER BY cnt DESC, label) AS rn
            FROM (SELECT s.v, p.label, count(*) AS cnt
                  FROM sym s JOIN l{i} p ON s.nbr = p.node
                  GROUP BY s.v, p.label))
        WHERE rn = 1)"""
        )
    return layers


def _lpa_oracle(n_iter: int = 5) -> str:
    layers = _lpa_layers(n_iter)
    return (
        "WITH "
        + ",\n    ".join(layers)
        + f"""
    SELECT label AS community, count(*) AS n_members
    FROM l{n_iter} GROUP BY label
    ORDER BY n_members DESC, community"""
    )


ORACLES_EXT["part_copurchase_communities"] = _lpa_oracle()


def _decay_engagement_oracle() -> str:
    """Decay-score twin over the PORTABLE libm-free exp2 (stats.py:
    decay_engagement_scores twin — libm pow is ulp-divergent across
    engines, the DSIR flake class)."""
    from firebase_etl_spark.functions.portable_math import exp2_select_sql

    chain = exp2_select_sql(
        "SELECT user_id, ts,"
        " (a - epoch_us(ts)) / 604800000000.0 AS __age"
        " FROM events, anchor WHERE user_id IS NOT NULL",
        [("(- __age)", "__decay")],
    )
    return f"""
    WITH anchor AS (
        SELECT max(epoch_us(ts)) AS a FROM events WHERE user_id IS NOT NULL
    ), c AS (
        SELECT user_id, ts,
               CAST(round(__decay * 1000000.0 + 1e-9, 0) AS BIGINT) AS c_e6
        FROM ({chain})
    )
    SELECT user_id, count(*) AS n_events, max(ts) AS last_seen,
           round(CAST(sum(c_e6) AS DOUBLE) / 1000000.0, 6) AS decay_score
    FROM c GROUP BY user_id
    ORDER BY sum(c_e6) DESC, user_id
    LIMIT 50
"""


ORACLES_EXT["events_decay_engagement"] = _decay_engagement_oracle()


ORACLES_EXT["customer_kanonymity"] = """
    WITH l0 AS (
        SELECT count(*) AS n FROM customer
        GROUP BY c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 1000.0) AS BIGINT)
    ), l1 AS (
        SELECT count(*) AS n FROM customer
        GROUP BY c_nationkey, c_mktsegment
    ), l2 AS (
        SELECT count(*) AS n FROM customer GROUP BY c_mktsegment
    ), u AS (
        SELECT 'l0_nation_segment_balband' AS level, * FROM l0
        UNION ALL SELECT 'l1_nation_segment', * FROM l1
        UNION ALL SELECT 'l2_segment', * FROM l2
    )
    SELECT level,
           CAST(sum(n) AS BIGINT) AS n_rows,
           count(*) AS n_groups,
           CAST(min(n) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_groups,
           CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
               AS n_risky_rows,
           round(sum(CASE WHEN n < 10 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
               AS risky_row_rate
    FROM u GROUP BY level ORDER BY level
"""


def _kcore_oracle(ks: tuple = (2, 3, 4), rounds: int = 16) -> str:
    """Generated replay of operators/graph.py:kcore_summary on the
    co-purchase graph: ``rounds`` unrolled prune layers per k (fixed
    budget; the Spark side's converged flag certifies the fixpoint fell
    inside it), each k chained from the previous k's final core."""
    layers = [
        """b AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    e AS MATERIALIZED (
        SELECT a.it AS p1, z.it AS p2
        FROM b a JOIN b z ON a.bk = z.bk AND a.it < z.it
        GROUP BY a.it, z.it HAVING count(*) >= 2)"""
    ]
    prev = "e"
    finals = []
    for k in sorted(ks):
        layers.append(f"k{k}_r0 AS MATERIALIZED (SELECT * FROM {prev})")
        for r in range(1, rounds + 1):
            layers.append(
                f"""k{k}_r{r} AS MATERIALIZED (
        SELECT c.p1, c.p2 FROM k{k}_r{r - 1} c
        JOIN (SELECT n FROM (SELECT p1 AS n FROM k{k}_r{r - 1}
                             UNION ALL SELECT p2 FROM k{k}_r{r - 1})
              GROUP BY n HAVING count(*) >= {k}) k1 ON c.p1 = k1.n
        JOIN (SELECT n FROM (SELECT p1 AS n FROM k{k}_r{r - 1}
                             UNION ALL SELECT p2 FROM k{k}_r{r - 1})
              GROUP BY n HAVING count(*) >= {k}) k2 ON c.p2 = k2.n)"""
            )
        prev = f"k{k}_r{rounds}"
        finals.append(
            f"""SELECT CAST({k} AS INT) AS k,
               (SELECT count(DISTINCT n) FROM
                   (SELECT p1 AS n FROM {prev}
                    UNION ALL SELECT p2 FROM {prev})) AS n_core_nodes,
               (SELECT count(*) FROM {prev}) AS n_core_edges,
               TRUE AS converged"""
        )
    return (
        "WITH "
        + ",\n    ".join(layers)
        + "\n    "
        + "\n    UNION ALL ".join(finals)
        + "\n    ORDER BY k"
    )


ORACLES_EXT["part_copurchase_kcore"] = _kcore_oracle()


ORACLES_EXT["customer_purge_cascade"] = """
    WITH roots AS (
        SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 101 = 0
    ), ord_hit AS (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT k FROM roots)
    ), li_hit AS (
        SELECT l_orderkey FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM ord_hit)
    ), u AS (
        SELECT '1_customer' AS tbl,
               (SELECT count(*) FROM customer) AS n_rows,
               (SELECT count(*) FROM customer
                WHERE c_custkey IN (SELECT k FROM roots)) AS n_purged
        UNION ALL
        SELECT '2_orders',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM ord_hit)
        UNION ALL
        SELECT '3_lineitem',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM li_hit)
    )
    SELECT tbl AS "table", n_rows, n_purged,
           round(n_purged / n_rows, 6) AS purge_rate
    FROM u ORDER BY "table"
"""


ORACLES_EXT["doc_containment_near_dups"] = r"""
    -- postings-join form of the brute directional containment: only
    -- pairs sharing a shingle are enumerated (c >= 1 — a zero-overlap
    -- pair cannot reach the 0.8 threshold) and c/|A| is the IDENTICAL
    -- integer ratio the list_intersect form computed. The O(n^2)
    -- list-intersect join hung the sf0.1 round-semantics audit.
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS sh
        FROM toks
    ), nz AS MATERIALIZED (SELECT * FROM sh WHERE len(sh) > 0),
    lens AS MATERIALIZED (
        SELECT doc_id, len(sh) AS l FROM nz
    ), post AS MATERIALIZED (
        SELECT doc_id, unnest(sh) AS s FROM nz
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS c
        FROM post a JOIN post b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_a, n_b, containment FROM (
        SELECT id_a, id_b,
               CAST(la.l AS INT) AS n_a, CAST(lb.l AS INT) AS n_b,
               round(c * 1.0 / la.l, 6) AS containment
        FROM pairs
        JOIN lens la ON la.doc_id = id_a
        JOIN lens lb ON lb.doc_id = id_b
        -- necessary condition: |A∩B| <= |B|, so |B| >= t|A|
        WHERE lb.l >= 0.8 * la.l
    ) WHERE containment >= 0.8
    ORDER BY id_a, id_b
"""


ORACLES_EXT["events_path_trigrams"] = """
    WITH t AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), c AS (
        SELECT e1, e2, e3, count(*) AS n_paths
        FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY e1, e2, e3
    ), tot AS (SELECT CAST(sum(n_paths) AS BIGINT) AS tt FROM c)
    SELECT e1, e2, e3, n_paths,
           round(n_paths * 1.0 / tt, 6) AS share
    FROM c, tot
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT 25
"""


ORACLES_EXT["events_robust_anomalies"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS dd, count(*) AS n
        FROM events GROUP BY 1, 2
    ), med AS (
        SELECT event_type, round(quantile_cont(n, 0.5), 6) AS med,
               count(*) AS n_days
        FROM daily GROUP BY event_type
    ), j AS (
        SELECT d.event_type, d.n, m.med, m.n_days,
               abs(d.n - m.med) AS dev
        FROM daily d JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
        FROM j GROUP BY event_type
    )
    SELECT j.event_type,
           CAST(min(j.n_days) AS BIGINT) AS n_days,
           min(j.med) AS median_daily,
           min(mad.mad) AS mad_daily,
           CAST(sum(CASE WHEN j.dev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalous_days,
           max(CASE WHEN j.dev > 3 * mad.mad THEN j.n END)
               AS worst_day_count
    FROM j JOIN mad USING (event_type)
    GROUP BY j.event_type ORDER BY j.event_type
"""


ORACLES_EXT["orders_incremental_agg"] = """
    -- from-scratch recompute: a hash match proves the Spark side's
    -- base+delta partial merge is lossless
    SELECT o_orderpriority,
           count(*) AS n_rows,
           round(CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS total_amount,
           round(CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                      AS DOUBLE) / count(*) / 100.0, 6) AS avg_amount,
           min(o_orderdate) AS first_ts,
           max(o_orderdate) AS last_ts
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


ORACLES_EXT["embedding_negative_samples"] = """
    WITH anchors AS (
        SELECT vec_id AS anchor_id, label AS anchor_label
        FROM embeddings WHERE vec_id % 41 = 0
    ), pairs AS (
        SELECT a.anchor_id, a.anchor_label,
               c.vec_id AS neg_id, c.label AS neg_label,
               md5('neg:' || CAST(a.anchor_id AS VARCHAR) || ':'
                          || CAST(c.vec_id AS VARCHAR)) AS pick
        FROM embeddings c CROSS JOIN anchors a
        WHERE c.vec_id <> a.anchor_id
          AND c.label IS NOT NULL
          AND c.label IS DISTINCT FROM a.anchor_label
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label, CAST(rank AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY anchor_id ORDER BY pick, neg_id
        ) AS rank FROM pairs
    ) WHERE rank <= 5
    ORDER BY anchor_id, rank
"""


ORACLES_EXT["events_trend_slopes"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS dd, count(*) AS n
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               (b.n - a.n) * 1.0 / datediff('day', a.dd, b.dd) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.dd < b.dd
    ), nd AS (
        SELECT event_type, count(*) AS n_days FROM daily GROUP BY event_type
    )
    SELECT p.event_type, nd.n_days,
           count(*) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS trend_slope_per_day,
           CASE WHEN round(quantile_cont(slope, 0.5), 6) > 0 THEN 'rising'
                WHEN round(quantile_cont(slope, 0.5), 6) < 0 THEN 'falling'
                ELSE 'flat' END AS direction
    FROM pairs p JOIN nd USING (event_type)
    GROUP BY p.event_type, nd.n_days
    ORDER BY p.event_type
"""


ORACLES_EXT["customer_revenue_pareto"] = """
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS rc
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT list_transform(
                   quantile_cont(rc, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                   c -> round(c, 6)) AS cuts
        FROM rev
    ), b AS (
        SELECT rc,
               CAST(1 + len(list_filter(cuts, c -> c < rc)) AS BIGINT)
                   AS decile
        FROM rev, cuts
    ), per0 AS (
        SELECT decile, count(*) AS n_customers, CAST(sum(rc) AS BIGINT)
                   AS cents
        FROM b GROUP BY decile
    ), spine AS (SELECT unnest(range(1, 11)) AS decile),
    per AS (
        SELECT s.decile,
               coalesce(n_customers, 0) AS n_customers,
               coalesce(cents, 0) AS cents
        FROM spine s LEFT JOIN per0 USING (decile)
    ), tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM per),
    cum AS (
        SELECT x.decile, CAST(sum(y.cents) AS BIGINT) AS cum_cents
        FROM per x JOIN per y ON y.decile >= x.decile
        GROUP BY x.decile
    )
    SELECT p.decile, p.n_customers,
           round(CAST(p.cents AS DOUBLE) / 100.0, 2) AS revenue,
           round(p.cents / tot.t, 6) AS share,
           round(c.cum_cents / tot.t, 6) AS cum_share_from_top
    FROM per p JOIN cum c USING (decile), tot
    ORDER BY p.decile DESC
"""


ORACLES_EXT["part_similar_items"] = """
    WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), ic AS (
        SELECT it, count(*) AS c FROM b GROUP BY it
    ), bf AS (
        SELECT b.bk, b.it FROM b JOIN ic ON b.it = ic.it AND ic.c >= 2
    ), e AS (
        SELECT a.it AS p1, z.it AS p2, count(*) AS pc
        FROM bf a JOIN bf z ON a.bk = z.bk AND a.it < z.it
        GROUP BY a.it, z.it HAVING count(*) >= 2
    ), sym AS (
        SELECT p1 AS item, p2 AS partner, pc FROM e
        UNION ALL
        SELECT p2, p1, pc FROM e
    ), j AS (
        SELECT s.item, s.partner, s.pc AS n_co,
               round(s.pc / sqrt(ca.c * cb.c), 6) AS cosine_sim
        FROM sym s
        JOIN ic ca ON s.item = ca.it
        JOIN ic cb ON s.partner = cb.it
    )
    SELECT item, partner, n_co, cosine_sim, CAST(rank AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY item ORDER BY cosine_sim DESC, partner
        ) AS rank FROM j
    ) WHERE rank <= 3
    ORDER BY item, rank
"""


ORACLES_EXT["events_growth_accounting"] = """
    WITH ud AS (
        -- CAST: DuckDB's date_trunc('day') yields DATE, Spark's a
        -- timestamp — the day column is part of the hashed output
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
        FROM events WHERE user_id IS NOT NULL
    ), first_seen AS (
        SELECT user_id, min(d) AS f FROM ud GROUP BY user_id
    ), base AS (
        SELECT d, count(*) AS dau,
               CAST(sum(CASE WHEN f = d THEN 1 ELSE 0 END) AS BIGINT)
                   AS new_users
        FROM ud JOIN first_seen USING (user_id) GROUP BY d
    ), y AS (
        SELECT user_id, d + INTERVAL 1 DAY AS d FROM ud
    ), ret AS (
        SELECT d, count(*) AS retained
        FROM ud JOIN y USING (user_id, d) GROUP BY d
    ), prev AS (
        SELECT d, count(*) AS prev_dau FROM y GROUP BY d
    )
    SELECT b.d AS day, b.dau, b.new_users,
           coalesce(r.retained, 0) AS retained,
           b.dau - b.new_users - coalesce(r.retained, 0) AS resurrected,
           coalesce(p.prev_dau, 0) - coalesce(r.retained, 0)
               AS churned_from_prev
    FROM base b
    LEFT JOIN ret r ON b.d = r.d
    LEFT JOIN prev p ON b.d = p.d
    ORDER BY day
"""


def _hits_oracle(n_iter: int = 8) -> str:
    """Generated replay of operators/graph.py:hits on the nation trade
    graph — two CTE layers (authority, hub) per round, divisor-first
    integer renormalization identical to the Spark loop."""
    layers = [
        """edges AS MATERIALIZED (
        SELECT CAST(c.c_nationkey AS BIGINT) AS src,
               CAST(s.s_nationkey AS BIGINT) AS dst,
               count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
    ),
    h0 AS (
        SELECT node,
               CAST(1000000000000 // (SELECT count(*) FROM nodes) AS BIGINT)
                   AS s
        FROM nodes
    )"""
    ]
    for i in range(n_iter):
        layers.append(
            f"""a{i}_raw AS MATERIALIZED (
        SELECT e.dst AS node, CAST(sum(h.s * e.w) AS BIGINT) AS raw
        FROM h{i} h JOIN edges e ON h.node = e.src GROUP BY e.dst),
    a{i} AS MATERIALIZED (
        SELECT n.node,
               CAST(coalesce(r.raw, 0)
                    // greatest((SELECT sum(raw) FROM a{i}_raw)
                                // 1000000000000, 1) AS BIGINT) AS s
        FROM nodes n LEFT JOIN a{i}_raw r USING (node)),
    h{i + 1}_raw AS MATERIALIZED (
        SELECT e.src AS node, CAST(sum(a.s * e.w) AS BIGINT) AS raw
        FROM a{i} a JOIN edges e ON a.node = e.dst GROUP BY e.src),
    h{i + 1} AS MATERIALIZED (
        SELECT n.node,
               CAST(coalesce(r.raw, 0)
                    // greatest((SELECT sum(raw) FROM h{i + 1}_raw)
                                // 1000000000000, 1) AS BIGINT) AS s
        FROM nodes n LEFT JOIN h{i + 1}_raw r USING (node))"""
        )
    return (
        "WITH "
        + ",\n    ".join(layers)
        + f"""
    SELECT nn.n_name AS nation, h.s AS hub_e12, a.s AS auth_e12
    FROM h{n_iter} h
    JOIN a{n_iter - 1} a USING (node)
    JOIN nation nn ON h.node = nn.n_nationkey
    ORDER BY auth_e12 DESC, nation"""
    )


ORACLES_EXT["nation_trade_hits"] = _hits_oracle()


ORACLES_EXT["orders_contract_report"] = """
    WITH base AS (
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS v_custkey,
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS v_comment,
               CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('F', 'O', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
               CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0.0
                                   OR o_totalprice > 10000000.0)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_price
        FROM orders
    ), dup AS (
        SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
                   AS v
        FROM (SELECT count(*) AS c FROM orders
              WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
    )
    SELECT rule, "column", n_rows, n_violations,
           round(n_violations / n_rows, 6) AS violation_rate, passed
    FROM (
        SELECT 'not_null:o_custkey' AS rule, 'o_custkey' AS "column",
               n AS n_rows, v_custkey AS n_violations,
               v_custkey / n <= 0.0 AS passed FROM base
        UNION ALL
        SELECT 'not_null:o_orderpriority', 'o_orderpriority', n, v_comment,
               v_comment / n <= 0.5 FROM base
        UNION ALL
        SELECT 'in_set:o_orderstatus', 'o_orderstatus', n, v_status,
               v_status / n <= 0.0 FROM base
        UNION ALL
        SELECT 'range:o_totalprice', 'o_totalprice', n, v_price,
               v_price / n <= 0.0 FROM base
        UNION ALL
        SELECT 'unique:o_orderkey', 'o_orderkey', base.n, dup.v,
               dup.v = 0 FROM base, dup
    )
    ORDER BY rule
"""


def _column_profile_oracle() -> str:
    """Profiling twin with PORTABLE lns for the entropy terms (c and
    the non-null total are integers; both engines quantize identical
    doubles — DSIR-class hardening)."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )

    c_chain = ln_select_sql(
        "SELECT col_name, value, c FROM counts", [("c", "__lnc")]
    )
    nn_chain = ln_select_sql(
        "SELECT * FROM agg", [("__nn", "__lnnn")]
    )
    ce6 = fixed_e6_expr("c * __lnc")
    return f"""
    WITH long AS (
        SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS value FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
    ), counts AS (
        SELECT col_name, value, count(*) AS c
        FROM long GROUP BY col_name, value
    ), agg AS (
        SELECT col_name,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(CASE WHEN value IS NULL THEN c END), 0)
                    AS BIGINT) AS n_nulls,
               CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_distinct,
               CAST(max(CASE WHEN value IS NOT NULL THEN c END) AS BIGINT)
                   AS top_count,
               CAST(sum(CASE WHEN value IS NOT NULL THEN c ELSE 0 END)
                    AS BIGINT) AS __nn,
               CAST(sum(CASE WHEN value IS NOT NULL THEN {ce6}
                        ELSE 0 END) AS BIGINT) AS __s
        FROM ({c_chain}) GROUP BY col_name
    )
    SELECT col_name AS "column", n_rows, n_nulls, n_distinct, top_count,
           round(top_count / __nn, 6) AS top_share,
           round(__lnnn - (CAST(__s AS DOUBLE) / 1000000.0) / __nn,
                 6) AS entropy_nats
    FROM ({nn_chain}) ORDER BY col_name
"""


ORACLES_EXT["orders_column_profile"] = _column_profile_oracle()


ORACLES_EXT["events_autocorrelation"] = """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type, lag.lag, a.n AS x, b.n AS y
        FROM daily a
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) lag
        JOIN daily b
          ON b.event_type = a.event_type
         AND b.d = a.d + lag.lag * INTERVAL 1 DAY
    ), s AS (
        SELECT event_type, lag,
               CAST(count(*) AS BIGINT) AS m_int,
               CAST(count(*) AS DOUBLE) AS m,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM pairs GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS INT) AS lag, m_int AS n_pairs,
           CASE WHEN (m * sxx - sx * sx) * (m * syy - sy * sy) > 0
                THEN round((m * sxy - sx * sy)
                           / sqrt((m * sxx - sx * sx)
                                  * (m * syy - sy * sy)), 6)
           END AS acf
    FROM s ORDER BY event_type, lag
"""


ORACLES_EXT["orders_target_encoding"] = """
    WITH w AS (
        SELECT o_orderkey, o_orderpriority AS cat,
               CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS y
        FROM orders
    ), cat AS (
        SELECT cat, count(*) AS cn, CAST(sum(y) AS BIGINT) AS cs
        FROM w GROUP BY cat
    ), gstats AS (
        SELECT count(*) AS gn, CAST(sum(y) AS BIGINT) AS gs FROM w
    )
    SELECT s.o_orderkey, s.cat AS priority,
           round(CAST(s.y AS DOUBLE) / 100.0, 2) AS target,
           CASE WHEN c.cn > 1 THEN
               round(CAST(c.cs - s.y AS DOUBLE) / (c.cn - 1) / 100.0, 6)
           END AS loo_enc,
           round((CAST(c.cs AS DOUBLE)
                  + 100.0 * (CAST(g.gs AS DOUBLE) / g.gn))
                 / (c.cn + 100.0) / 100.0, 6) AS smoothed_enc
    FROM w s JOIN cat c USING (cat), gstats g
    WHERE s.o_orderkey % 293 = 0
    ORDER BY s.o_orderkey
"""


ORACLES_EXT["orders_benford_audit"] = """
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INT) AS digit,
               count(*) AS n
        FROM orders WHERE o_totalprice > 0
        GROUP BY 1
    ), spine AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM d),
    j AS (
        SELECT s.digit, coalesce(d.n, 0) AS n, tot.t
        FROM spine s LEFT JOIN d USING (digit), tot
    )
    SELECT digit, n,
           round(n / t, 6) AS observed_share,
           round(log10(1.0 + 1.0 / digit) + 1e-9, 6) AS benford_share,
           round((n - t * log10(1.0 + 1.0 / digit))
                 * (n - t * log10(1.0 + 1.0 / digit))
                 / (t * log10(1.0 + 1.0 / digit)) + 1e-9, 6)
               AS chisq_term
    FROM j ORDER BY digit
"""


ORACLES_EXT["events_interarrival_stats"] = """
    WITH g AS (
        SELECT event_type,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000
                   AS gap_s
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ), s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(gap_s) AS BIGINT) AS sg,
               CAST(sum(gap_s * gap_s) AS BIGINT) AS sqq,
               round(quantile_cont(gap_s, 0.5), 6) AS median_gap_s
        FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_gaps, median_gap_s,
           round(CAST(sg AS DOUBLE) / n_gaps, 4) AS mean_gap_s,
           round(sqrt(n_gaps * CAST(sqq AS DOUBLE)
                      - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                 / n_gaps, 4) AS sd_gap_s,
           CASE WHEN (sqrt(n_gaps * CAST(sqq AS DOUBLE)
                           - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                      / n_gaps
                      + CAST(sg AS DOUBLE) / n_gaps) > 0
                THEN round((sqrt(n_gaps * CAST(sqq AS DOUBLE)
                                 - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                            / n_gaps
                            - CAST(sg AS DOUBLE) / n_gaps)
                           / (sqrt(n_gaps * CAST(sqq AS DOUBLE)
                                   - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                              / n_gaps
                              + CAST(sg AS DOUBLE) / n_gaps), 6)
           END AS burstiness
    FROM s ORDER BY event_type
"""


ORACLES_EXT["customer_ldiversity"] = """
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS c
        FROM customer WHERE c_mktsegment IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT c_nationkey,
           CAST(sum(c) AS BIGINT) AS n_rows,
           count(*) AS n_sensitive_values,
           CAST(max(c) AS BIGINT) AS dominant_count,
           round(max(c) / sum(c), 6) AS dominant_share,
           count(*) >= 3 AS l_diverse
    FROM g GROUP BY c_nationkey ORDER BY c_nationkey
"""


ORACLES_EXT["events_last_touch_attribution"] = """
    WITH p AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), t AS (
        SELECT user_id, ts, event_type, event_id FROM events
        WHERE event_type <> 'purchase' AND user_id IS NOT NULL
    ), cand AS (
        SELECT p.event_id AS pid, p.ts AS pts,
               t.event_type AS touch_type, t.ts AS tts, t.event_id AS teid
        FROM p JOIN t
          ON p.user_id = t.user_id
         AND t.ts <= p.ts
         AND t.ts >= p.ts - INTERVAL 1 HOUR
    ), best AS (
        SELECT pid, touch_type, tts FROM (
            SELECT *, row_number() OVER (
                PARTITION BY pid ORDER BY tts DESC, teid DESC
            ) AS rn FROM cand
        ) WHERE rn = 1
    ), j AS (
        SELECT coalesce(b.touch_type, 'unattributed') AS attributed_to,
               (epoch_us(p.ts) - epoch_us(b.tts)) // 1000000 AS lat
        FROM p LEFT JOIN best b ON p.event_id = b.pid
    ), r AS (
        SELECT attributed_to, count(*) AS n_purchases,
               round(quantile_cont(lat, 0.5), 6) AS median_latency_s,
               CAST(max(lat) AS BIGINT) AS max_latency_s
        FROM j GROUP BY attributed_to
    ), tot AS (SELECT CAST(sum(n_purchases) AS BIGINT) AS t FROM r)
    SELECT attributed_to, n_purchases,
           round(n_purchases / t, 6) AS share,
           median_latency_s, max_latency_s
    FROM r, tot ORDER BY attributed_to
"""


ORACLES_EXT["embedding_anisotropy"] = """
    WITH v AS (
        SELECT label,
               list_transform(CAST(embedding AS DOUBLE[]),
                   x -> x / sqrt(list_inner_product(
                       CAST(embedding AS DOUBLE[]),
                       CAST(embedding AS DOUBLE[])))) AS u
        FROM embeddings WHERE label IS NOT NULL
    ), ex AS (
        SELECT label, pos,
               CAST(round(u[pos] * 10000.0, 0) AS BIGINT) AS c
        FROM v, unnest(range(1, len(u) + 1)) AS t(pos)
    ), n_l AS (
        SELECT label, count(*) AS n FROM v GROUP BY label
    ), ds AS (
        SELECT label, pos, CAST(sum(c) AS BIGINT) AS s
        FROM ex GROUP BY label, pos
    ), ssq AS (
        SELECT label, CAST(sum(s * s) AS BIGINT) AS ssq
        FROM ds GROUP BY label
    ), q AS (
        SELECT label, CAST(sum(c * c) AS BIGINT) AS q
        FROM ex GROUP BY label
    )
    SELECT n_l.label, n_l.n AS n_vectors,
           round(CAST(q.q AS DOUBLE) / 100000000.0 / n_l.n, 6)
               AS mean_norm_sq,
           CASE WHEN n_l.n > 1 THEN
               round(CAST(ssq.ssq - q.q AS DOUBLE) / 100000000.0
                     / (n_l.n * (n_l.n - 1.0)), 6)
           END AS mean_pairwise_cos
    FROM n_l JOIN ssq USING (label) JOIN q USING (label)
    ORDER BY label
"""


ORACLES_EXT["customer_order_rate_wilson"] = """
    WITH n AS (
        SELECT c_nationkey, count(*) AS n FROM customer GROUP BY 1
    ), k AS (
        SELECT c_nationkey, count(*) AS k FROM customer
        WHERE c_custkey IN (SELECT DISTINCT o_custkey FROM orders)
        GROUP BY 1
    ), j AS (
        SELECT n.c_nationkey, n.n, coalesce(k.k, 0) AS k
        FROM n LEFT JOIN k USING (c_nationkey)
    )
    SELECT c_nationkey, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS rate,
           round((CAST(k AS DOUBLE) / n + 3.8416 / (2.0 * n))
                     / (1.0 + 3.8416 / n)
                 - 1.96 * sqrt(CAST(k AS DOUBLE) / n
                               * (1.0 - CAST(k AS DOUBLE) / n) / n
                               + 3.8416 / (4.0 * n * n))
                   / (1.0 + 3.8416 / n), 6) AS wilson_lo,
           round((CAST(k AS DOUBLE) / n + 3.8416 / (2.0 * n))
                     / (1.0 + 3.8416 / n)
                 + 1.96 * sqrt(CAST(k AS DOUBLE) / n
                               * (1.0 - CAST(k AS DOUBLE) / n) / n
                               + 3.8416 / (4.0 * n * n))
                   / (1.0 + 3.8416 / n), 6) AS wilson_hi
    FROM j ORDER BY c_nationkey
"""


ORACLES_EXT["lineitem_neyman_allocation"] = """
    WITH s AS (
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sg,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sqq
        FROM lineitem GROUP BY l_returnflag
    ), w AS (
        SELECT l_returnflag, n,
               CAST(round(sqrt(CAST(n * sqq - sg * sg AS DOUBLE))
                          * 1000000.0 + 1e-9, 0) AS BIGINT) AS w_e6
        FROM s
    ), tot AS (SELECT CAST(sum(w_e6) AS BIGINT) AS tw FROM w)
    SELECT l_returnflag, n AS n_rows,
           round(CAST(w_e6 AS DOUBLE) / 1000000.0 / n, 6) AS sigma,
           round(CAST(w_e6 AS DOUBLE) / tw, 6) AS weight_share,
           CAST(round(1000.0 * CAST(w_e6 AS DOUBLE) / tw, 0) AS BIGINT)
               AS allocation
    FROM w, tot ORDER BY l_returnflag
"""


ORACLES_EXT["documents_split_leakage_audit"] = r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk)),
                                            i -> tk[i] || ' ' || tk[i + 1])) AS sh
        FROM toks
    ), lens AS MATERIALIZED (
        SELECT doc_id, len(sh) AS l FROM sh
    ), post AS MATERIALIZED (
        SELECT doc_id, unnest(sh) AS s FROM sh
    ), opairs AS MATERIALIZED (
        -- postings-join form of the brute pair Jaccard (the
        -- doc_minhash_near_dups rewrite, same reasons)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS c
        FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT id_a, id_b,
                   round(c * 1.0 / nullif(la.l + lb.l - c, 0), 6)
                       AS jaccard
            FROM opairs
            JOIN lens la ON la.doc_id = id_a
            JOIN lens lb ON lb.doc_id = id_b
            WHERE la.l * 2 >= lb.l AND lb.l * 2 >= la.l
        ) WHERE jaccard >= 0.5
    ), assign AS (
        SELECT doc_id,
               CASE WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT < 1037629354146162278
                    THEN 'train'
                    WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT < 1095275429376504627
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    ), j AS (
        SELECT sa.split AS sa, sb.split AS sb
        FROM pairs
        JOIN assign sa ON pairs.id_a = sa.doc_id
        JOIN assign sb ON pairs.id_b = sb.doc_id
    )
    SELECT count(*) AS n_neardup_pairs,
           CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_straddling,
           round(coalesce(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) * 1.0
                          / count(*), 0.0), 6) AS straddle_rate,
           CAST(sum(CASE WHEN (sa = 'train' AND sb = 'test')
                           OR (sa = 'test' AND sb = 'train')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_train_test
    FROM j
"""


ORACLES_EXT["user_ltv_cohorts"] = """
    WITH ev AS (
        SELECT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
               coalesce(CAST(round(value * 100.0, 0) AS BIGINT), 0) AS v_c
        FROM events WHERE user_id IS NOT NULL
    ), first_seen AS (
        SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id
    ), sizes AS (
        SELECT cohort, count(*) AS n_users FROM first_seen GROUP BY cohort
    ), inc AS (
        SELECT cohort,
               CAST(datediff('day', cohort, wk) // 7 AS INT) AS age_weeks,
               CAST(sum(v_c) AS BIGINT) AS v
        FROM ev JOIN first_seen USING (user_id)
        GROUP BY 1, 2
    ), cum AS (
        SELECT x.cohort, x.age_weeks, CAST(sum(y.v) AS BIGINT) AS cum_c
        FROM inc x JOIN inc y
          ON y.cohort = x.cohort AND y.age_weeks <= x.age_weeks
        GROUP BY x.cohort, x.age_weeks
    )
    SELECT cum.cohort AS cohort_week, cum.age_weeks, sizes.n_users,
           round(CAST(cum.cum_c AS DOUBLE) / 100.0 / sizes.n_users, 6)
               AS ltv_per_user
    FROM cum JOIN sizes USING (cohort)
    ORDER BY cohort_week, age_weeks
"""


def _cramers_oracle(table: str, ca: str, cb: str, label: str) -> str:
    return f"""
        SELECT '{label}' AS pair, n AS n_rows,
               CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof,
               round(CAST(chi2_e6 AS DOUBLE) / 1000000.0, 4) AS chi2,
               round(sqrt((CAST(chi2_e6 AS DOUBLE) / 1000000.0)
                          / (CAST(n AS DOUBLE) * (least(ka, kb) - 1))), 6)
                   AS cramers_v
        FROM (
            SELECT CAST(sum(t) AS BIGINT) AS chi2_e6,
                   min(n) AS n, min(ka) AS ka, min(kb) AS kb
            FROM (
                SELECT CAST(round(
                           CAST(g.o * tot.n - g.r * g.c AS DOUBLE)
                           * CAST(g.o * tot.n - g.r * g.c AS DOUBLE)
                           / (CAST(tot.n * g.r AS DOUBLE) * g.c)
                           * 1000000.0 + 1e-9, 0) AS BIGINT) AS t,
                       tot.n, tot.ka, tot.kb
                FROM (
                    SELECT ra.a, cb2.b, ra.r, cb2.c, coalesce(ce.o, 0) AS o
                    FROM (SELECT {ca} AS a, CAST(sum(cnt) AS BIGINT) AS r
                          FROM (SELECT {ca}, {cb}, count(*) AS cnt
                                FROM {table}
                                WHERE {ca} IS NOT NULL AND {cb} IS NOT NULL
                                GROUP BY 1, 2)
                          GROUP BY 1) ra
                    CROSS JOIN
                         (SELECT {cb} AS b, CAST(sum(cnt) AS BIGINT) AS c
                          FROM (SELECT {ca}, {cb}, count(*) AS cnt
                                FROM {table}
                                WHERE {ca} IS NOT NULL AND {cb} IS NOT NULL
                                GROUP BY 1, 2)
                          GROUP BY 1) cb2
                    LEFT JOIN
                         (SELECT {ca} AS a, {cb} AS b, count(*) AS o
                          FROM {table}
                          WHERE {ca} IS NOT NULL AND {cb} IS NOT NULL
                          GROUP BY 1, 2) ce
                      ON ra.a = ce.a AND cb2.b = ce.b
                ) g
                CROSS JOIN
                     (SELECT CAST(count(*) AS BIGINT) AS n,
                             CAST(count(DISTINCT {ca}) AS BIGINT) AS ka,
                             CAST(count(DISTINCT {cb}) AS BIGINT) AS kb
                      FROM {table}
                      WHERE {ca} IS NOT NULL AND {cb} IS NOT NULL) tot
            )
        )
    """


ORACLES_EXT["categorical_association_audit"] = (
    "SELECT * FROM ("
    + _cramers_oracle(
        "orders", "o_orderpriority", "o_orderstatus",
        "orders: priority x status",
    )
    + ") UNION ALL SELECT * FROM ("
    + _cramers_oracle(
        "lineitem", "l_returnflag", "l_linestatus",
        "lineitem: returnflag x linestatus",
    )
    + ") ORDER BY pair"
)


ORACLES_EXT["part_copurchase_assortativity"] = """
    WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    e AS (
        SELECT a.it AS p1, z.it AS p2
        FROM b a JOIN b z ON a.bk = z.bk AND a.it < z.it
        GROUP BY a.it, z.it HAVING count(*) >= 2),
    sym AS (
        SELECT p1 AS u, p2 AS v FROM e
        UNION ALL SELECT p2, p1 FROM e),
    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
    pairs AS (
        SELECT da.d AS dx, db.d AS dy
        FROM sym
        JOIN deg da ON sym.u = da.u
        JOIN deg db ON sym.v = db.u),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS m_int,
               CAST(count(*) AS DOUBLE) AS m,
               CAST(sum(dx) AS DOUBLE) AS sx,
               CAST(sum(dy) AS DOUBLE) AS sy,
               CAST(sum(dx * dy) AS DOUBLE) AS sxy,
               CAST(sum(dx * dx) AS DOUBLE) AS sxx,
               CAST(sum(dy * dy) AS DOUBLE) AS syy,
               CAST(max(dx) AS BIGINT) AS max_degree
        FROM pairs)
    SELECT CAST(m_int // 2 AS BIGINT) AS n_edges,
           round(sx / m, 4) AS mean_endpoint_degree,
           max_degree,
           CASE WHEN (m * sxx - sx * sx) * (m * syy - sy * sy) > 0
                THEN round((m * sxy - sx * sy)
                           / sqrt((m * sxx - sx * sx)
                                  * (m * syy - sy * sy)), 6)
           END AS assortativity
    FROM s
"""


ORACLES_EXT["session_conversion_report"] = """
    WITH tagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessioned AS (
        SELECT user_id, event_type,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM tagged
    ), per_session AS (
        SELECT user_id, session_id, count(*) AS n_events,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM sessioned GROUP BY user_id, session_id
    )
    SELECT CASE WHEN n_events = 1 THEN '1_single'
                WHEN n_events <= 3 THEN '2_short'
                WHEN n_events <= 7 THEN '3_medium'
                ELSE '4_long' END AS depth_bucket,
           count(*) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           round(sum(converted) / count(*), 6) AS conversion_rate,
           round(avg(n_events), 4) AS avg_events
    FROM per_session GROUP BY depth_bucket ORDER BY depth_bucket
"""


ORACLES_EXT["doc_novelty_curve"] = r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS s
        FROM toks
    ), intro AS (
        SELECT s, min(doc_id) AS intro FROM sh GROUP BY s
    ), per_doc AS (
        SELECT sh.doc_id,
               CAST(round(sum(CASE WHEN intro = sh.doc_id THEN 1 ELSE 0 END)
                          * 1000000.0 / count(*), 0) AS BIGINT) AS nov_e6
        FROM sh JOIN intro USING (s)
        GROUP BY sh.doc_id
    ), bounds AS (
        SELECT min(doc_id) AS lo,
               max(doc_id) - min(doc_id) + 1 AS width
        FROM per_doc
    )
    SELECT CAST(floor((doc_id - lo) * 10 / width) AS INT) AS decile,
           count(*) AS n_docs,
           round(CAST(sum(nov_e6) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS avg_novelty
    FROM per_doc, bounds
    GROUP BY decile ORDER BY decile
"""


def _retention_halflife_oracle() -> str:
    """Decay-fit twin over the PORTABLE ln: ln(sa/ss) = ln(sa) - ln(ss)
    with both integer-argument lns evaluated by the shared libm-free
    chain, and -ln(2) as the shared parsed literal — identical doubles
    on both engines before the 1e-6 rounding (preemptive fix: this
    query passed r5 only because the fixture sat clear of a boundary,
    VERDICT r5 next-round #1)."""
    from firebase_etl_spark.functions.portable_math import (
        LN2_LIT,
        fixed_e6_expr,
        ln_select_sql,
    )

    chain = ln_select_sql(
        "SELECT age, sa, ss FROM pooled",
        [("sa", "__lnsa"), ("ss", "__lnss")],
    )
    y = fixed_e6_expr("__lnsa - __lnss")
    return f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
        FROM events WHERE user_id IS NOT NULL
    ), first_seen AS (
        SELECT user_id, min(wk) AS cohort FROM ud GROUP BY user_id
    ), sizes AS (
        SELECT cohort, count(*) AS sz FROM first_seen GROUP BY cohort
    ), mx AS (SELECT max(wk) AS mx FROM ud),
    actives AS (
        SELECT cohort,
               CAST(datediff('day', cohort, wk) // 7 AS INT) AS age,
               count(*) AS act
        FROM ud JOIN first_seen USING (user_id)
        WHERE datediff('day', cohort, wk) // 7 >= 1
        GROUP BY 1, 2
    ), spine AS (
        SELECT s.cohort, s.sz, a.age
        FROM sizes s, (SELECT CAST(unnest(range(1, 27)) AS INT) AS age) a,
             mx
        WHERE s.cohort + to_weeks(a.age) <= mx.mx
    ), pooled AS (
        SELECT age,
               CAST(sum(coalesce(act, 0)) AS BIGINT) AS sa,
               CAST(sum(sz) AS BIGINT) AS ss
        FROM spine LEFT JOIN actives USING (cohort, age)
        GROUP BY age HAVING sum(coalesce(act, 0)) > 0
    ), pts AS (
        SELECT CAST(age AS BIGINT) AS x, {y} AS y
        FROM ({chain})
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_int,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx
        FROM pts
    )
    SELECT n_int AS n_ages,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx) / 1000000.0, 6)
               AS weekly_log_decay,
           CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                     / 1000000.0 < 0
                THEN round(-{LN2_LIT} / ((n * sxy - sx * sy)
                                         / (n * sxx - sx * sx)
                                         / 1000000.0) + 1e-9, 4)
           END AS halflife_weeks
    FROM s WHERE n_int >= 2
"""


ORACLES_EXT["retention_halflife_fit"] = _retention_halflife_oracle()


ORACLES_EXT["documents_lang_source_association"] = _cramers_oracle(
    "documents", "lang", "source", "documents: lang x source"
)


def _curriculum_oracle() -> str:
    """Curriculum twin: n^alpha via the PORTABLE libm-free
    2^(alpha·log2 n) with the shared alpha literal CASE (see
    queries_ext.documents_curriculum_schedule)."""
    from firebase_etl_spark.functions.portable_math import (
        LN2_LIT,
        exp2_select_sql,
        ln_select_sql,
    )
    from firebase_etl_spark.plans.queries_ext import curriculum_alpha_case

    a_case = curriculum_alpha_case()
    chain = exp2_select_sql(
        ln_select_sql(
            "SELECT e.epoch, c.lang, c.n_l"
            " FROM counts c CROSS JOIN epochs e",
            [("n_l", "__lnn")],
        ),
        [(f"({a_case}) * (__lnn / {LN2_LIT})", "__w")],
    )
    return f"""
    WITH counts AS (
        SELECT lang, count(*) AS n_l FROM documents GROUP BY lang
    ), epochs AS (SELECT CAST(unnest(range(1, 5)) AS INT) AS epoch),
    w AS (
        SELECT epoch, lang, n_l,
               round({a_case}, 2) AS alpha,
               CAST(round(__w * 1000000.0 + 1e-9, 0) AS BIGINT) AS w_fx
        FROM ({chain})
    ), tot AS (
        SELECT epoch, CAST(sum(w_fx) AS BIGINT) AS w_total
        FROM w GROUP BY epoch
    ), nt AS (SELECT CAST(sum(n_l) AS BIGINT) AS n_total FROM counts)
    SELECT w.epoch, w.lang, w.alpha, w.n_l,
           CAST(ceil(round((ceil(0.25 * nt.n_total) * w.w_fx
                           / tot.w_total) + 1e-9 + abs(ceil(0.25 * nt.n_total) * w.w_fx
                           / tot.w_total) * CAST('9.094947017729282e-13' AS DOUBLE), 6)) AS BIGINT) AS quota,
           round((CAST(ceil(round((ceil(0.25 * nt.n_total) * w.w_fx
                                 / tot.w_total) + 1e-9 + abs(ceil(0.25 * nt.n_total) * w.w_fx
                                 / tot.w_total) * CAST('9.094947017729282e-13' AS DOUBLE), 6)) AS BIGINT)
                 / w.n_l) + 1e-9 + abs(CAST(ceil(round((ceil(0.25 * nt.n_total) * w.w_fx
                                 / tot.w_total) + 1e-9 + abs(ceil(0.25 * nt.n_total) * w.w_fx
                                 / tot.w_total) * CAST('9.094947017729282e-13' AS DOUBLE), 6)) AS BIGINT)
                 / w.n_l) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS repeat_factor
    FROM w JOIN tot USING (epoch), nt
    ORDER BY epoch, lang
"""


ORACLES_EXT["documents_curriculum_schedule"] = _curriculum_oracle()


# the streaming twin aggregates to exactly the batch matrix
ORACLES_EXT["stream_transition_matrix"] = ORACLES_EXT["events_transition_matrix"]


ORACLES_EXT["documents_curation_v2"] = r"""
    WITH corpus AS (
        SELECT * FROM documents WHERE doc_id % 89 <> 0
    ), toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ), grams AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS sh
        FROM toks
    ), nz AS MATERIALIZED (
        SELECT g.doc_id, g.sh FROM grams g
        JOIN corpus USING (doc_id) WHERE len(g.sh) > 0
    ), nz_lens AS MATERIALIZED (
        SELECT doc_id, len(sh) AS l FROM nz
    ), nz_post AS MATERIALIZED (
        SELECT doc_id, unnest(sh) AS s FROM nz
    ), nz_pairs AS MATERIALIZED (
        -- postings-join form of the brute containment (the
        -- doc_containment_near_dups rewrite): only overlapping pairs
        -- enumerate; c/|A| is the identical integer ratio
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS c
        FROM nz_post a JOIN nz_post b
          ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ), contained AS (
        SELECT DISTINCT id_a AS doc_id
        FROM nz_pairs
        JOIN nz_lens la ON la.doc_id = id_a
        JOIN nz_lens lb ON lb.doc_id = id_b
        WHERE lb.l >= 0.8 * la.l
          AND round(c * 1.0 / la.l, 6) >= 0.8
    ), probe_grams AS (
        SELECT DISTINCT unnest(sh) AS gram FROM grams
        WHERE doc_id % 89 = 0
    ), contaminated AS (
        SELECT e.doc_id
        FROM (SELECT doc_id, unnest(sh) AS gram FROM grams
              WHERE doc_id % 89 <> 0) e
        JOIN probe_grams USING (gram)
        GROUP BY e.doc_id HAVING count(*) >= 2
    )
    SELECT c.lang,
           count(*) AS n_in,
           CAST(sum(CASE WHEN cd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contained,
           CAST(sum(CASE WHEN cm.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(sum(CASE WHEN cd.doc_id IS NULL AND cm.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN cd.doc_id IS NULL AND cm.doc_id IS NULL
                         THEN len(regexp_split_to_array(
                                  lower(trim(c.text)), '\s+'))
                         ELSE 0 END) AS BIGINT) AS tokens_kept,
           -- gated query runs UNCAPPED (max_bucket_docs=None): the
           -- no-silent-caps column is exactly 0 there by construction
           CAST(0 AS BIGINT) AS trunc_postings_dropped
    FROM corpus c
    LEFT JOIN contained cd ON c.doc_id = cd.doc_id
    LEFT JOIN contaminated cm ON c.doc_id = cm.doc_id
    GROUP BY c.lang ORDER BY c.lang
"""


ORACLES_EXT["customer_revenue_gini"] = """
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS rc
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT list_transform(
                   quantile_cont(rc, list_transform(range(1, 100),
                                                    i -> i / 100.0)),
                   c -> round(c, 6)) AS cuts
        FROM rev
    ), b AS (
        SELECT rc,
               CAST(1 + len(list_filter(cuts, c -> c < rc)) AS BIGINT)
                   AS bkt
        FROM rev, cuts
    ), per0 AS (
        SELECT bkt, count(*) AS n, CAST(sum(rc) AS BIGINT) AS cents
        FROM b GROUP BY bkt
    ), spine AS (SELECT unnest(range(1, 101)) AS bkt),
    per AS (
        SELECT s.bkt, coalesce(n, 0) AS n, coalesce(cents, 0) AS cents
        FROM spine s LEFT JOIN per0 USING (bkt)
    ), cum AS (
        SELECT x.bkt, CAST(sum(y.n) AS BIGINT) AS cn,
               CAST(sum(y.cents) AS BIGINT) AS cc
        FROM per x JOIN per y ON y.bkt <= x.bkt GROUP BY x.bkt
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(cents) AS BIGINT) AS tc
        FROM per
    ), terms AS (
        SELECT CAST(round(
                   (CAST(p.n AS DOUBLE) / tot.tn)
                   * (CAST(c.cc - p.cents AS DOUBLE) / tot.tc
                      + CAST(c.cc AS DOUBLE) / tot.tc)
                   * 1000000000.0 + 1e-9, 0) AS BIGINT) AS t,
               p.n
        FROM per p JOIN cum c USING (bkt), tot
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_customers,
           round(1.0 - CAST(sum(t) AS DOUBLE) / 1000000000.0, 6)
               AS gini_bucketed
    FROM terms
"""


ORACLES_EXT["session_event_pairs"] = """
    WITH tagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessioned AS (
        SELECT CAST(user_id AS VARCHAR) || ':' ||
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS bk,
               event_type AS it
        FROM tagged
    ), b AS (SELECT DISTINCT bk, it FROM sessioned),
    nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
    ic AS (SELECT it, count(*) AS ic FROM b GROUP BY it),
    fr AS (SELECT it, ic FROM ic WHERE ic >= 2),
    bf AS (SELECT b.bk, b.it FROM b JOIN fr ON b.it = fr.it),
    pr AS (
        SELECT a.it AS p1, z.it AS p2, count(*) AS pair_count
        FROM bf a JOIN bf z ON a.bk = z.bk AND a.it < z.it
        GROUP BY a.it, z.it HAVING count(*) >= 2)
    SELECT pr.p1, pr.p2, CAST(pr.pair_count AS BIGINT) AS pair_count,
           round((pr.pair_count * 1.0 / nb.n_baskets) + 1e-9 + abs(pr.pair_count * 1.0 / nb.n_baskets) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS support,
           round(((pr.pair_count * nb.n_baskets * 1.0)
                 / (c1.ic * c2.ic)) + 1e-9 + abs((pr.pair_count * nb.n_baskets * 1.0)
                 / (c1.ic * c2.ic)) * CAST('9.094947017729282e-13' AS DOUBLE), 4) AS lift
    FROM pr
    JOIN fr c1 ON pr.p1 = c1.it
    JOIN fr c2 ON pr.p2 = c2.it
    CROSS JOIN nb
    ORDER BY pair_count DESC, p1, p2 LIMIT 10
"""


def _mmr_oracle(qid: int = 0, k: int = 8, pool: int = 40) -> str:
    """Unrolled greedy MMR replay (similarity.py:mmr_topk twin): the
    kcenter-oracle pattern — one CTE layer per selection round. Every
    float op mirrors the Spark tree: per-component normalization by
    the sqrt of a left-to-right sum of squares, left-to-right inner
    product, round 6dp, scale to e6 BIGINT. Ties to the lower vec_id;
    first pick = argmax relevance with red_e6 = 0 by convention."""
    sim = (
        "CAST(round(round(list_inner_product({a}, {b}), 6)"
        " * 1000000.0, 0) AS BIGINT)"
    )
    parts = [
        f"""WITH ve AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0
    FROM embeddings
    WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0),
v AS MATERIALIZED (
    SELECT vec_id,
           list_transform(
               e0, x -> x / sqrt(list_inner_product(e0, e0))) AS e
    FROM ve),
q AS MATERIALIZED (SELECT e AS qe FROM v WHERE vec_id = {qid}),
pool AS MATERIALIZED (
    SELECT v.vec_id, v.e,
           {sim.format(a='v.e', b='q.qe')} AS rel_e6
    FROM v CROSS JOIN q
    WHERE v.vec_id <> {qid}
    ORDER BY rel_e6 DESC, vec_id LIMIT {pool}),
s0 AS MATERIALIZED (
    SELECT 0 AS mmr_rank, vec_id, e, rel_e6,
           CAST(0 AS BIGINT) AS red_e6, rel_e6 AS mmr_e6
    FROM (SELECT * FROM pool ORDER BY rel_e6 DESC, vec_id LIMIT 1))"""
    ]
    for i in range(1, k):
        parts.append(f"""d{i} AS MATERIALIZED (
    SELECT c.vec_id, c.e, c.rel_e6,
           max({sim.format(a='c.e', b='s.e')}) AS red_e6
    FROM pool c CROSS JOIN s{i - 1} s
    WHERE c.vec_id NOT IN (SELECT vec_id FROM s{i - 1})
    GROUP BY c.vec_id, c.e, c.rel_e6),
p{i} AS MATERIALIZED (
    SELECT {i} AS mmr_rank, vec_id, e, rel_e6,
           CAST(red_e6 AS BIGINT) AS red_e6,
           rel_e6 - CAST(red_e6 AS BIGINT) AS mmr_e6
    FROM d{i} ORDER BY (rel_e6 - red_e6) DESC, vec_id LIMIT 1),
s{i} AS MATERIALIZED (SELECT * FROM s{i - 1} UNION ALL SELECT * FROM p{i})""")
    tail = f"""
SELECT mmr_rank, vec_id, rel_e6, red_e6, mmr_e6
FROM s{k - 1} ORDER BY mmr_rank"""
    return ",\n".join(parts) + tail


ORACLES_EXT["embedding_topk_mmr"] = _mmr_oracle()


def _modularity_oracle(n_iter: int = 5, top: int = 10) -> str:
    """graph.py:modularity_report twin: the shared LPA layers feed the
    identical all-integer Q algebra — per-community numerator
    4*m*m_c - d_c^2, global Q sign-split so DuckDB's flooring //
    matches Spark's truncating DIV on the positive magnitude."""
    layers = _lpa_layers(n_iter)
    tail = f"""intra AS MATERIALIZED (
        SELECT la.label AS community, count(*) AS mc
        FROM e
        JOIN l{n_iter} la ON e.p1 = la.node
        JOIN l{n_iter} lb ON e.p2 = lb.node
        WHERE la.label = lb.label
        GROUP BY la.label),
    deg AS MATERIALIZED (
        SELECT v AS node, count(*) AS d FROM sym GROUP BY v),
    comm AS MATERIALIZED (
        SELECT l.label AS community,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(deg.d) AS BIGINT) AS degree_sum
        FROM deg JOIN l{n_iter} l ON deg.node = l.node
        GROUP BY l.label),
    mt AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
    per AS MATERIALIZED (
        SELECT c.community, c.n_members,
               CAST(coalesce(i.mc, 0) AS BIGINT) AS intra_edges,
               c.degree_sum,
               CAST(4 * mt.m_edges * coalesce(i.mc, 0)
                    - c.degree_sum * c.degree_sum AS BIGINT)
                   AS contrib_num,
               mt.m_edges
        FROM comm c CROSS JOIN mt
        LEFT JOIN intra i ON c.community = i.community),
    tot AS (
        SELECT CAST(sum(contrib_num) AS BIGINT) AS q_num,
               max(m_edges) AS m2
        FROM per)
    SELECT per.community, per.n_members, per.intra_edges,
           per.degree_sum, per.contrib_num, per.m_edges, tot.q_num,
           CAST(CASE WHEN tot.q_num >= 0
                THEN (tot.q_num * 1000000) // (4 * tot.m2 * tot.m2)
                ELSE -((-tot.q_num * 1000000)
                       // (4 * tot.m2 * tot.m2)) END AS BIGINT)
               AS modularity_e6
    FROM per CROSS JOIN tot
    ORDER BY per.n_members DESC, per.community
    LIMIT {top}"""
    return "WITH " + ",\n    ".join(layers) + ",\n    " + tail


ORACLES_EXT["part_copurchase_modularity"] = _modularity_oracle()


ORACLES_EXT["doc_langid_auc"] = f"""
    WITH scored AS (
        SELECT (SELECT
                  len(list_filter(td, t -> t IN ('the','a','and','of','to')))
                - greatest(
                    len(list_filter(td, t -> t IN ('le','la','et','les','des'))),
                    len(list_filter(td, t -> t IN ('der','die','und','das','ist'))),
                    len(list_filter(td, t -> t IN ('el','la','y','los','de'))))
                FROM (SELECT list_distinct({_TOKS}) AS td)) AS margin,
               CAST(lang = 'en' AS INT) AS y
        FROM documents),
    g AS (
        SELECT margin AS s, count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
        FROM scored WHERE margin IS NOT NULL AND y IS NOT NULL
        GROUP BY margin),
    g2 AS (
        SELECT s, n, npos,
               coalesce(sum(n) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cb
        FROM g),
    a AS (
        SELECT CAST(sum(npos) AS BIGINT) AS n_pos,
               CAST(sum(n) - sum(npos) AS BIGINT) AS n_neg,
               CAST(sum(n) AS BIGINT) AS n_scored,
               CAST(sum(npos * (2 * cb + n + 1)) AS BIGINT) AS s2
        FROM g2)
    SELECT n_pos, n_neg, n_scored,
           CAST(s2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE ((s2 - n_pos * (n_pos + 1)) * 1000000)
                     // (2 * n_pos * n_neg) END AS BIGINT) AS auc_e6
    FROM a
"""


ORACLES_EXT["doc_length_auc"] = f"""
    WITH scored AS (
        SELECT len({_TOKS}) AS s,
               CAST(n_chars >= 450 AS INT) AS y
        FROM documents),
    g AS (
        SELECT s, count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
        FROM scored WHERE s IS NOT NULL AND y IS NOT NULL
        GROUP BY s),
    g2 AS (
        SELECT s, n, npos,
               coalesce(sum(n) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cb
        FROM g),
    a AS (
        SELECT CAST(sum(npos) AS BIGINT) AS n_pos,
               CAST(sum(n) - sum(npos) AS BIGINT) AS n_neg,
               CAST(sum(n) AS BIGINT) AS n_scored,
               CAST(sum(npos * (2 * cb + n + 1)) AS BIGINT) AS s2
        FROM g2)
    SELECT n_pos, n_neg, n_scored,
           CAST(s2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE ((s2 - n_pos * (n_pos + 1)) * 1000000)
                     // (2 * n_pos * n_neg) END AS BIGINT) AS auc_e6
    FROM a
"""


def _cuped_oracle() -> str:
    """stats.py:cuped_report twin on the id-parity split: identical
    integer moments and the shared sign-split e6 divisions (// here,
    DIV on the Spark side — equal by the positive-magnitude split)."""
    from firebase_etl_spark.functions.portable_math import sdiv_scaled_sql

    def sd(num, den, scale=1_000_000):
        return sdiv_scaled_sql(num, den, scale, "//")

    nn = "CAST(n AS BIGINT) * sxy - sx * sy"
    dd = "CAST(n AS BIGINT) * sxx - sx * sx"
    dy = "CAST(n AS BIGINT) * syy - sy * sy"
    return f"""
    WITH mid AS (
        SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
                + CAST(max(epoch_us(ts)) AS BIGINT)) // 2 AS tmid
        FROM events WHERE user_id IS NOT NULL),
    pu AS (
        SELECT user_id % 2 AS arm,
               CAST(sum(CASE WHEN epoch_us(ts) < mid.tmid
                        THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN epoch_us(ts) >= mid.tmid
                        THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events CROSS JOIN mid
        WHERE user_id IS NOT NULL
        GROUP BY user_id),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
               CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
               CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
        FROM pu),
    d AS (
        SELECT m.*,
               CAST({sd("sy0", "n0")} AS BIGINT) AS mean_y_ctrl_e6,
               CAST({sd("sy1", "n1")} AS BIGINT) AS mean_y_treat_e6,
               CAST({sd("sy1 * n0 - sy0 * n1", "n1 * n0")} AS BIGINT)
                   AS delta_raw_e6,
               CAST({sd("sx1 * n0 - sx0 * n1", "n1 * n0")} AS BIGINT)
                   AS delta_x_e6,
               CAST(CASE WHEN ({dd}) = 0 THEN NULL
                    ELSE {sd(nn, dd)} END AS BIGINT) AS theta_e6
        FROM m)
    SELECT n0 AS n_ctrl, n1 AS n_treat,
           mean_y_ctrl_e6, mean_y_treat_e6, delta_raw_e6, theta_e6,
           CAST(CASE WHEN theta_e6 IS NULL THEN NULL
                ELSE delta_raw_e6 -
                     ({sd("theta_e6 * delta_x_e6", "1000000", 1)})
                END AS BIGINT) AS delta_cuped_e6,
           CAST(CASE WHEN ({dd}) = 0 OR ({dy}) = 0 THEN NULL
                ELSE {sd(f"({sd(nn, dd, 1000)}) * ({sd(nn, dy, 1000)})",
                         "1000000")} END AS BIGINT) AS rho2_e6
    FROM d
    """


ORACLES_EXT["events_cuped_adjusted"] = _cuped_oracle()


def _theil_sen_oracle() -> str:
    """timeseries.py:theil_sen_trend twin: identical e6 pairwise-slope
    quantization (sign-split //) and the two lower-median integer
    selections over the bounded day spine."""
    from firebase_etl_spark.functions.portable_math import sdiv_scaled_sql

    slope = sdiv_scaled_sql("b.n - a.n", "b.di - a.di", 1_000_000, "//")
    return f"""
    WITH daily AS MATERIALIZED (
        SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
                   AS di,
               CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL
        GROUP BY date_trunc('day', ts)),
    pairs AS MATERIALIZED (
        SELECT CAST({slope} AS BIGINT) AS slope_e6
        FROM daily a JOIN daily b ON a.di < b.di),
    med AS (
        SELECT slope_e6 AS slope_med_e6, cnt AS n_pairs FROM (
            SELECT slope_e6,
                   row_number() OVER (ORDER BY slope_e6) AS rn,
                   count(*) OVER () AS cnt
            FROM pairs)
        WHERE rn = (cnt + 1) // 2),
    resid AS (
        SELECT d.n * 1000000 - m.slope_med_e6 * d.di AS b_e6,
               m.slope_med_e6, m.n_pairs
        FROM daily d CROSS JOIN med m)
    SELECT CAST(nd AS BIGINT) AS n_days,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(slope_med_e6 AS BIGINT) AS slope_med_e6,
           CAST(b_e6 AS BIGINT) AS intercept_med_e6
    FROM (
        SELECT b_e6, slope_med_e6, n_pairs,
               row_number() OVER (ORDER BY b_e6) AS rn,
               count(*) OVER () AS nd
        FROM resid)
    WHERE rn = (nd + 1) // 2
    """


ORACLES_EXT["events_theil_sen_trend"] = _theil_sen_oracle()


ORACLES_EXT["lineitem_selfjoin_size_estimate"] = """
    WITH counts AS MATERIALIZED (
        SELECT CAST(l_partkey AS VARCHAR) AS v, count(*) AS c
        FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
    rows_ AS (
        SELECT c, r.r,
               ('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || '|'
                                   || v), 1, 15))::BIGINT % 65536 AS col
        FROM counts, unnest(range(0, 4)) AS r(r)),
    sketch AS (
        SELECT r, col, CAST(sum(c) AS BIGINT) AS cnt
        FROM rows_ GROUP BY r, col),
    est AS (
        SELECT CAST(min(ip) AS BIGINT) AS cms_estimate FROM (
            SELECT r, CAST(sum(cnt * cnt) AS BIGINT) AS ip
            FROM sketch GROUP BY r)),
    exact AS (
        SELECT CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(c * c) AS BIGINT) AS exact_pairs
        FROM counts)
    SELECT n_rows, n_keys, exact_pairs, cms_estimate,
           CAST(cms_estimate - exact_pairs AS BIGINT) AS overestimate
    FROM exact CROSS JOIN est
"""


ORACLES_EXT["events_ewma_forecast"] = """
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY day) AS i, n FROM (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE ts IS NOT NULL GROUP BY 1)),
    rec AS (
        SELECT CAST(1 AS BIGINT) AS i,
               (SELECT n FROM daily WHERE i = 1) * 1000000 AS s,
               CAST(0 AS BIGINT) AS ee, CAST(0 AS BIGINT) AS en
        UNION ALL
        SELECT r.i + 1,
               (d.n * 1000000 + 3 * r.s) // 4,
               r.ee + abs(d.n * 1000000 - r.s),
               r.en + abs(d.n - dp.n) * 1000000
        FROM rec r
        JOIN daily d ON d.i = r.i + 1
        JOIN daily dp ON dp.i = r.i),
    lastr AS (SELECT * FROM rec ORDER BY i DESC LIMIT 1)
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(l.ee AS BIGINT) AS ewma_abs_err_e6,
           CAST(l.en AS BIGINT) AS naive_abs_err_e6,
           CAST(CASE WHEN l.en > 0 THEN (l.ee * 1000000) // l.en
                ELSE NULL END AS BIGINT) AS skill_e6,
           CAST(l.s AS BIGINT) AS forecast_next_e6
    FROM lastr l
"""


def _langid_agreement_oracle() -> str:
    """stats.py:classification_agreement_report twin over the shared
    langid SQL: confusion table -> class spine (full outer of truth
    and pred marginals) -> sign-split e6 ratios; kappa in exact int64."""
    from firebase_etl_spark.functions.portable_math import sdiv_scaled_sql

    def sd(num, den):
        return sdiv_scaled_sql(num, den, 1_000_000, "//")

    return f"""
    WITH hits AS (
        SELECT lang,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['the','a','and','of','to'], t))) AS en_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['le','la','et','les','des'], t))) AS fr_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['der','die','und','das','ist'], t))) AS de_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['el','la','y','los','de'], t))) AS es_hits
        FROM documents),
    conf AS MATERIALIZED (
        SELECT lang AS t, {_LANG_SQL} AS p, count(*) AS c
        FROM hits WHERE lang IS NOT NULL GROUP BY 1, 2),
    rt AS (SELECT t AS label, CAST(sum(c) AS BIGINT) AS n_true
           FROM conf GROUP BY t),
    ct AS (SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_pred
           FROM conf GROUP BY p),
    tp AS (SELECT t AS label, CAST(c AS BIGINT) AS tp
           FROM conf WHERE t = p),
    cls AS MATERIALIZED (
        SELECT coalesce(rt.label, ct.label) AS label,
               CAST(coalesce(n_true, 0) AS BIGINT) AS n_true,
               CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
               CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp
        FROM rt FULL OUTER JOIN ct ON rt.label = ct.label
        LEFT JOIN tp ON coalesce(rt.label, ct.label) = tp.label),
    per AS MATERIALIZED (
        SELECT *,
               CAST(CASE WHEN n_pred = 0 THEN NULL
                    ELSE {sd("tp", "n_pred")} END AS BIGINT)
                   AS precision_e6,
               CAST(CASE WHEN n_true = 0 THEN NULL
                    ELSE {sd("tp", "n_true")} END AS BIGINT)
                   AS recall_e6,
               CAST(CASE WHEN n_true + n_pred = 0 THEN NULL
                    ELSE {sd("2 * tp", "n_true + n_pred")} END
                    AS BIGINT) AS f1_e6
        FROM cls),
    gtot AS (
        SELECT CAST(sum(n_true) AS BIGINT) AS n,
               CAST(sum(tp) AS BIGINT) AS sum_tp,
               CAST(sum(n_true * n_pred) AS BIGINT) AS sum_rt_ct,
               CAST(sum(f1_e6) AS BIGINT) AS sum_f1,
               CAST(count(f1_e6) AS BIGINT) AS n_f1
        FROM per),
    gl2 AS (
        SELECT CAST({sd("sum_tp", "n")} AS BIGINT) AS accuracy_e6,
               CAST(sum_f1 // n_f1 AS BIGINT) AS macro_f1_e6,
               CAST(CASE WHEN n * n - sum_rt_ct = 0 THEN NULL
                    ELSE {sd("n * sum_tp - sum_rt_ct",
                             "n * n - sum_rt_ct")} END AS BIGINT)
                   AS kappa_e6
        FROM gtot)
    SELECT label, n_true, n_pred, tp, precision_e6, recall_e6, f1_e6,
           accuracy_e6, macro_f1_e6, kappa_e6
    FROM per CROSS JOIN gl2 ORDER BY label
    """


ORACLES_EXT["doc_langid_agreement"] = _langid_agreement_oracle()


ORACLES_EXT["media_dhash_near_dups"] = """
    WITH dims AS MATERIALIZED (
        SELECT doc_id AS mid,
               CAST(4 + doc_id % 5 AS BIGINT) AS w,
               CAST(3 + doc_id % 4 AS BIGINT) AS h
        FROM documents),
    grid AS MATERIALIZED (
        SELECT mid, t.x, u.y,
               (((mid * 31 + ((t.x * w) // 9) * 7
                  + ((u.y * h) // 8) * 13) % 256
                 + (mid * 31 + ((t.x * w) // 9) * 7
                    + ((u.y * h) // 8) * 13 + 101) % 256
                 + (mid * 31 + ((t.x * w) // 9) * 7
                    + ((u.y * h) // 8) * 13 + 202) % 256) // 3) AS gray
        FROM dims,
             unnest(range(0, 9)) AS t(x),
             unnest(range(0, 8)) AS u(y)),
    bits AS (
        SELECT a.mid, a.y, a.x,
               CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
        FROM grid a JOIN grid b
          ON a.mid = b.mid AND a.y = b.y AND b.x = a.x + 1
        WHERE a.x < 8),
    hashes AS MATERIALIZED (
        SELECT mid,
               CAST(sum(CASE WHEN y * 8 + x < 32
                    THEN bit * (CAST(1 AS BIGINT) << (y * 8 + x))
                    ELSE 0 END) AS BIGINT) AS h_hi,
               CAST(sum(CASE WHEN y * 8 + x >= 32
                    THEN bit * (CAST(1 AS BIGINT) << (y * 8 + x - 32))
                    ELSE 0 END) AS BIGINT) AS h_lo
        FROM bits GROUP BY mid),
    bands AS MATERIALIZED (
        SELECT mid, b.bidx,
               CASE b.bidx WHEN 0 THEN h_hi % 65536
                           WHEN 1 THEN h_hi // 65536
                           WHEN 2 THEN h_lo % 65536
                           ELSE h_lo // 65536 END AS bval
        FROM hashes, unnest(range(0, 4)) AS b(bidx)),
    ranked AS MATERIALIZED (
        SELECT mid, bidx, bval,
               row_number() OVER (PARTITION BY bidx, bval
                                  ORDER BY mid) AS rn
        FROM bands),
    dropped AS (
        SELECT CAST(sum(greatest(sz - 40, 0)) AS BIGINT)
                   AS trunc_postings_dropped
        FROM (SELECT count(*) AS sz FROM bands GROUP BY bidx, bval)),
    cand AS MATERIALIZED (
        SELECT DISTINCT x.mid AS a, y.mid AS b
        FROM ranked x JOIN ranked y
          ON x.bidx = y.bidx AND x.bval = y.bval AND x.mid < y.mid
        WHERE x.rn <= 40 AND y.rn <= 40),
    pairs AS MATERIALIZED (
        SELECT CAST(bit_count(xor(ha.h_hi, hb.h_hi))
                    + bit_count(xor(ha.h_lo, hb.h_lo)) AS BIGINT)
                   AS hamming
        FROM cand
        JOIN hashes ha ON cand.a = ha.mid
        JOIN hashes hb ON cand.b = hb.mid),
    tot AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM hashes)
                   AS n_images,
               (SELECT CAST(count(*) AS BIGINT) FROM pairs)
                   AS n_candidate_pairs)
    SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
           tot.n_images, tot.n_candidate_pairs,
           dropped.trunc_postings_dropped
    FROM pairs CROSS JOIN tot CROSS JOIN dropped
    WHERE hamming <= 16
    GROUP BY hamming, tot.n_images, tot.n_candidate_pairs,
             dropped.trunc_postings_dropped
    ORDER BY hamming
"""


def _mann_kendall_oracle() -> str:
    """timeseries.py:mann_kendall_test twin: identical integer S and
    tie census, identical IEEE chain for z (sqrt is correctly rounded
    by IEEE-754 on both engines), same single e6 quantization."""
    from firebase_etl_spark.functions.portable_math import fixed_e6_expr

    z = fixed_e6_expr(
        "(CAST(s_stat AS DOUBLE)"
        " - CAST(CASE WHEN s_stat > 0 THEN 1"
        "        WHEN s_stat < 0 THEN -1 ELSE 0 END AS DOUBLE))"
        " / sqrt(CAST(t_days * (t_days - 1) * (2 * t_days + 5)"
        " - tie_term AS DOUBLE) / CAST(18 AS DOUBLE))"
    )
    return f"""
    WITH daily AS MATERIALIZED (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1),
    s AS (
        SELECT CAST(coalesce(sum(CASE WHEN b.n > a.n THEN 1
                         WHEN b.n < a.n THEN -1 ELSE 0 END), 0)
                    AS BIGINT) AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day),
    ties AS (
        SELECT CAST(sum(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT)
                   AS tie_term,
               CAST(sum(tg) AS BIGINT) AS t_days
        FROM (SELECT count(*) AS tg FROM daily GROUP BY n))
    SELECT t_days AS n_days, s_stat,
           CAST(t_days * (t_days - 1) * (2 * t_days + 5) - tie_term
                AS BIGINT) AS var18,
           CAST(CASE WHEN t_days * (t_days - 1) * (2 * t_days + 5)
                          - tie_term = 0 THEN NULL
                ELSE {z} END AS BIGINT) AS z_e6
    FROM s CROSS JOIN ties
    """


ORACLES_EXT["events_mann_kendall"] = _mann_kendall_oracle()


ORACLES_EXT["embedding_dbscan_clusters"] = """
    WITH nv AS MATERIALIZED (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                   x -> x / sqrt(list_inner_product(
                       CAST(embedding AS DOUBLE[]),
                       CAST(embedding AS DOUBLE[])))) AS ve
        FROM embeddings
        WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM nv a JOIN nv b ON a.vec_id < b.vec_id
        WHERE round(list_inner_product(a.ve, b.ve), 6) >= 0.4),
    sym AS MATERIALIZED (
        SELECT id_a AS node, id_b AS nbr FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
    deg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
    core AS MATERIALIZED (
        SELECT node FROM deg WHERE d + 1 >= 3),
    cce AS MATERIALIZED (
        SELECT id_a, id_b FROM pairs
        WHERE id_a IN (SELECT node FROM core)
          AND id_b IN (SELECT node FROM core)),
    walk AS MATERIALIZED (
        WITH RECURSIVE r(node, label) AS (
            SELECT id_a, id_a FROM cce
            UNION SELECT id_b, id_b FROM cce
            UNION
            SELECT e.v, r.label FROM r JOIN (
                SELECT id_a AS u, id_b AS v FROM cce
                UNION ALL SELECT id_b, id_a FROM cce) e
              ON r.node = e.u
        )
        SELECT node, min(label) AS component FROM r GROUP BY node),
    core_lbl AS MATERIALIZED (
        SELECT c.node, coalesce(w.component, c.node) AS cluster
        FROM core c LEFT JOIN walk w ON c.node = w.node),
    border AS MATERIALIZED (
        SELECT s.node, min(cl.cluster) AS cluster
        FROM sym s JOIN core_lbl cl ON s.nbr = cl.node
        WHERE s.node NOT IN (SELECT node FROM core_lbl)
        GROUP BY s.node),
    members AS (
        SELECT node, cluster, 1 AS is_core FROM core_lbl
        UNION ALL SELECT node, cluster, 0 AS is_core FROM border),
    per AS MATERIALIZED (
        SELECT cluster, CAST(sum(is_core) AS BIGINT) AS n_core,
               CAST(sum(1 - is_core) AS BIGINT) AS n_border
        FROM members GROUP BY cluster),
    tot AS (
        SELECT CAST((SELECT count(*) FROM per) AS BIGINT) AS n_clusters,
               CAST(coalesce((SELECT sum(n_core + n_border) FROM per),
                             0) AS BIGINT) AS n_clustered,
               CAST((SELECT count(*) FROM nv) AS BIGINT) AS n_points)
    SELECT per.cluster, per.n_core, per.n_border, tot.n_clusters,
           tot.n_clustered,
           CAST(tot.n_points - tot.n_clustered AS BIGINT) AS n_noise,
           tot.n_points
    FROM per CROSS JOIN tot
    ORDER BY per.n_core + per.n_border DESC, per.cluster
    LIMIT 20
"""


def _fingerprint_oracle() -> str:
    """stats.py:dataset_fingerprint twin: identical sentineled
    serialization (chr(0)||'NULL'||chr(0)), chr(31) unit-separator
    join, house md5-prefix integers, bit_xor combination."""
    cols = ["doc_id", "lang", "n_chars", "source", "text"]
    sent = "chr(0) || 'NULL' || chr(0)"

    def s(c):
        return f"coalesce(CAST({c} AS VARCHAR), {sent})"

    def h(expr):
        return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"

    row_h = h("concat_ws(chr(31), " + ", ".join(s(c) for c in cols) + ")")
    aggs = [
        "CAST(count(*) AS BIGINT) AS n_rows",
        f"CAST(bit_xor({row_h}) AS BIGINT) AS dataset_xor",
    ]
    for c in cols:
        aggs.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS nn_{c}"
        )
        aggs.append(
            f"CAST(bit_xor({h(s(c))}) AS BIGINT) AS cx_{c}"
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT '{c}' AS col_name, nn_{c} AS n_nulls, cx_{c} AS col_xor,"
        f" n_rows, dataset_xor FROM w"
        for c in cols
    )
    return (
        "WITH w AS MATERIALIZED (SELECT "
        + ", ".join(aggs)
        + " FROM documents)\n    "
        + unions
        + "\n    ORDER BY col_name"
    )


ORACLES_EXT["documents_dataset_fingerprint"] = _fingerprint_oracle()


ORACLES_EXT["stream_count_min_users"] = """
    WITH src AS MATERIALIZED (
        SELECT event_type AS g, CAST(user_id AS VARCHAR) AS v
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
    counts AS (SELECT g, v, count(*) AS c FROM src GROUP BY g, v),
    rows_ AS (
        SELECT g, c, r.r,
               ('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || '|'
                                   || v), 1, 15))::BIGINT % 256 AS col
        FROM counts, unnest(range(0, 4)) AS r(r)),
    sketch AS MATERIALIZED (
        SELECT g, r, col, CAST(sum(c) AS BIGINT) AS cnt
        FROM rows_ GROUP BY g, r, col),
    probes AS (
        SELECT p.u, r.r,
               ('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || '|'
                                   || CAST(p.u AS VARCHAR)), 1, 15))
                   ::BIGINT % 256 AS col
        FROM (SELECT unnest([0, 1, 2, 3, 4]) AS u) p,
             unnest(range(0, 4)) AS r(r)),
    pg AS (
        SELECT grp.g, probes.u, probes.r, probes.col
        FROM (SELECT DISTINCT g FROM src) grp CROSS JOIN probes),
    est AS (
        SELECT pg.g, pg.u, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est
        FROM pg LEFT JOIN sketch s
          ON pg.g = s.g AND pg.r = s.r AND pg.col = s.col
        GROUP BY pg.g, pg.u),
    tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n_seen
            FROM src GROUP BY g)
    SELECT tot.g, tot.n_seen,
           CAST(max(CASE WHEN u = 0 THEN est END) AS BIGINT) AS est_u0,
           CAST(max(CASE WHEN u = 1 THEN est END) AS BIGINT) AS est_u1,
           CAST(max(CASE WHEN u = 2 THEN est END) AS BIGINT) AS est_u2,
           CAST(max(CASE WHEN u = 3 THEN est END) AS BIGINT) AS est_u3,
           CAST(max(CASE WHEN u = 4 THEN est END) AS BIGINT) AS est_u4
    FROM tot JOIN est ON tot.g = est.g
    GROUP BY tot.g, tot.n_seen
    ORDER BY tot.g
"""


ORACLES_EXT["customer_blocking_quality"] = r"""
    WITH probes AS (
        SELECT c_custkey AS probe_id,
               substr(c_name, 1, CAST(10 + c_custkey % 8 AS INT) - 1) ||
               substr(c_name, CAST(10 + c_custkey % 8 AS INT) + 1)
                   AS probe_name
        FROM customer WHERE c_custkey % 40 = 7),
    targets AS (
        SELECT c_custkey AS target_id, c_name AS target_name
        FROM customer),
    pz AS (SELECT probe_id, substr(probe_name, 10, 9) AS zone
           FROM probes),
    tz AS (SELECT target_id, substr(target_name, 10, 9) AS zone
           FROM targets),
    pv AS (
        SELECT probe_id,
               unnest(list_distinct(list_append(
                   list_transform(generate_series(1, length(zone)),
                       i -> substr(zone, 1, CAST(i AS INT) - 1)
                            || substr(zone, CAST(i AS INT) + 1)),
                   zone))) AS variant
        FROM pz),
    tv AS (
        SELECT target_id,
               unnest(list_distinct(list_append(
                   list_transform(generate_series(1, length(zone)),
                       i -> substr(zone, 1, CAST(i AS INT) - 1)
                            || substr(zone, CAST(i AS INT) + 1)),
                   zone))) AS variant
        FROM tz),
    cand AS MATERIALIZED (
        SELECT DISTINCT probe_id, target_id
        FROM pv JOIN tv USING (variant)),
    agg AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM probes)
                   AS n_probes,
               (SELECT CAST(count(*) AS BIGINT) FROM targets)
                   AS n_targets,
               (SELECT CAST(count(*) AS BIGINT) FROM cand)
                   AS n_candidates,
               (SELECT CAST(count(*) AS BIGINT) FROM cand
                WHERE probe_id = target_id) AS n_true_in_candidates)
    SELECT n_probes, n_targets, n_candidates,
           CAST(1000000 - (n_candidates * 1000000)
                // (n_probes * n_targets) AS BIGINT)
               AS reduction_ratio_e6,
           n_true_in_candidates,
           CAST((n_true_in_candidates * 1000000) // n_probes AS BIGINT)
               AS pairs_completeness_e6
    FROM agg
"""


def _pca_oracle(iters: int = 30) -> str:
    """Power-iteration twin of clustering.pca_power_report: the same
    quantized scatter matrix M = n*G - s s^T (HUGEINT intermediates —
    fine, the type lint covers FINAL outputs only), the same fixed
    'iters' renormalized sign-split integer iterations as unrolled
    MATERIALIZED CTEs (the Markov/pagerank lesson: un-materialized
    chains re-inline exponentially), the same Rayleigh / trace share."""
    it = []
    prev = "v0"
    for k in range(1, iters + 1):
        it.append(f"""
    w{k} AS MATERIALIZED (
        SELECT mm.i, CAST(sum(mm.m * {prev}.x) AS HUGEINT) AS w
        FROM mm JOIN {prev} ON mm.j = {prev}.i GROUP BY mm.i),
    mx{k} AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w{k}),
    v{k} AS MATERIALIZED (
        SELECT i, CASE WHEN mx = 0 THEN CAST(0 AS HUGEINT)
             WHEN w >= 0 THEN (w * 1000000) // mx
             ELSE -((-w * 1000000) // mx) END AS x
        FROM w{k} CROSS JOIN mx{k})""")
        prev = f"v{k}"
    steps = ",".join(it)
    return f"""
    WITH v AS MATERIALIZED (
        SELECT list_transform(CAST(embedding AS DOUBLE[]),
            x -> x / sqrt(list_inner_product(
                CAST(embedding AS DOUBLE[]),
                CAST(embedding AS DOUBLE[])))) AS u
        FROM embeddings WHERE embedding IS NOT NULL
    ), exv AS MATERIALIZED (
        SELECT rid, pos - 1 AS i,
               CAST(round(u[pos] * 10000.0, 0) AS BIGINT) AS c
        FROM (SELECT row_number() OVER () AS rid, u FROM v),
             unnest(range(1, len(u) + 1)) AS t(pos)
    ), gg AS MATERIALIZED (
        SELECT a.i, b.i AS j, CAST(sum(a.c * b.c) AS HUGEINT) AS g
        FROM exv a JOIN exv b USING (rid) GROUP BY a.i, b.i
    ), ss AS MATERIALIZED (
        SELECT i, CAST(sum(c) AS HUGEINT) AS s FROM exv GROUP BY i
    ), nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM v),
    mm AS MATERIALIZED (
        SELECT gg.i, gg.j, nn.n * gg.g - sa.s * sb.s AS m
        FROM gg CROSS JOIN nn
        JOIN ss sa ON gg.i = sa.i JOIN ss sb ON gg.j = sb.i
    ),
    v0 AS MATERIALIZED (
        SELECT i, CAST(1000000 AS HUGEINT) AS x FROM ss),
    {steps},
    wf AS MATERIALIZED (
        SELECT mm.i, CAST(sum(mm.m * {prev}.x) AS HUGEINT) AS w
        FROM mm JOIN {prev} ON mm.j = {prev}.i GROUP BY mm.i),
    ray AS (
        SELECT CAST(sum(x.x * wf.w) AS HUGEINT) AS num,
               CAST(sum(x.x * x.x) AS HUGEINT) AS den
        FROM {prev} x JOIN wf ON x.i = wf.i),
    tr AS (SELECT CAST(sum(m) AS HUGEINT) AS trace FROM mm WHERE i = j),
    lam AS (
        SELECT CASE WHEN den = 0 THEN CAST(0 AS HUGEINT)
             WHEN num >= 0 THEN num // den
             ELSE -((-num) // den) END AS l FROM ray),
    sh AS (
        SELECT CASE WHEN trace > 0 AND l >= 0 THEN (l * 1000000) // trace
             WHEN trace > 0 THEN -((-l * 1000000) // trace)
             ELSE CAST(0 AS HUGEINT) END AS share
        FROM lam CROSS JOIN tr),
    sgn AS (
        SELECT CASE WHEN x < 0 THEN -1 ELSE 1 END AS f
        FROM {prev} ORDER BY abs(x) DESC, i ASC LIMIT 1),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS nvec FROM v)
    SELECT CAST(x.i AS INTEGER) AS dim,
           CAST(x.x * sgn.f AS BIGINT) AS loading_e6,
           CAST(sh.share AS BIGINT) AS var_share_e6,
           nv.nvec AS n_vectors
    FROM {prev} x CROSS JOIN sgn CROSS JOIN sh CROSS JOIN nv
    ORDER BY dim
"""


ORACLES_EXT["embedding_pca_top_component"] = _pca_oracle()


def _bootstrap_oracle(reps: int = 64) -> str:
    """Poisson-bootstrap twin: ONE md5 per row split into 26-bit
    halves, per-replicate multiply-mod mixer weights as aggregate
    column pairs (boot_weight_sql — the IDENTICAL integer SQL text the
    engine compiles), single wide row unpivoted by UNION ALL."""
    from firebase_etl_spark.operators.stats import (
        boot_mix_constants,
        boot_weight_sql,
    )

    cols = []
    for b, (a1, a2, c) in enumerate(boot_mix_constants(reps)):
        w = boot_weight_sql(a1, a2, c)
        cols.append(
            f"CAST(sum(CAST({w} AS BIGINT) * v) AS BIGINT) AS s_{b},"
            f" CAST(sum({w}) AS BIGINT) AS n_{b}"
        )
    unpivot = " UNION ALL ".join(
        f"SELECT {b} AS b, CASE WHEN n_{b} > 0"
        f" THEN s_{b} // n_{b} ELSE 0 END AS m FROM agg"
        for b in range(reps)
    )
    lo_rank = max(1, (25 * reps) // 1000 + 1)
    hi_rank = min(reps, (975 * reps) // 1000 + 1)
    return f"""
    WITH base AS MATERIALIZED (
        SELECT CAST(o_orderkey AS VARCHAR) AS k,
               CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS v
        FROM orders WHERE o_totalprice IS NOT NULL
    ), hh AS MATERIALIZED (
        SELECT v,
               ('0x' || substr(md5('boot|' || k), 1, 13))::BIGINT
                   // {1 << 26} AS h1,
               ('0x' || substr(md5('boot|' || k), 1, 13))::BIGINT
                   % {1 << 26} AS h2
        FROM base
    ), agg AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(v) AS BIGINT) AS tot,
               {', '.join(cols)}
        FROM hh
    ), means AS ({unpivot}
    ), ranked AS (
        SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM means
    ), ci AS (
        SELECT max(CASE WHEN r = {lo_rank} THEN m END) AS lo,
               max(CASE WHEN r = {hi_rank} THEN m END) AS hi,
               min(m) AS bmin, max(m) AS bmax
        FROM ranked
    ), pt AS (
        SELECT n_rows,
               CASE WHEN n_rows > 0 THEN tot // n_rows ELSE 0 END AS pm
        FROM agg
    )
    SELECT pt.n_rows,
           CAST(pt.pm AS BIGINT) AS point_mean_cents,
           CAST({reps} AS BIGINT) AS n_replicates,
           CAST(ci.lo AS BIGINT) AS ci_lo_cents,
           CAST(ci.hi AS BIGINT) AS ci_hi_cents,
           CAST(ci.hi - ci.lo AS BIGINT) AS ci_width_cents,
           CAST(ci.bmin AS BIGINT) AS boot_min_cents,
           CAST(ci.bmax AS BIGINT) AS boot_max_cents
    FROM pt CROSS JOIN ci
"""


ORACLES_EXT["orders_bootstrap_ci"] = _bootstrap_oracle()


def _fdr_oracle() -> str:
    """BH-FDR twin: the same exact integer moments, the same shared
    welch_z_sql() double tree (imported, not re-stated), the same
    rank-indexed hardcoded critical values and step-up integer logic."""
    from firebase_etl_spark.functions.portable_math import fixed_e6_expr
    from firebase_etl_spark.operators.stats import (
        BH_CRIT_E6_M5,
        welch_z_sql,
    )

    wz = welch_z_sql()
    crit_case = " ".join(
        f"WHEN bh_rank = {i + 1} THEN CAST({c} AS BIGINT)"
        for i, c in enumerate(BH_CRIT_E6_M5)
    )
    return f"""
    WITH base AS (
        SELECT event_type AS g, CAST(user_id % 2 AS INT) AS arm,
               CAST(round(value * 100.0, 0) AS BIGINT) AS v
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL
    ), m AS (
        SELECT g,
            CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS na,
            CAST(coalesce(sum(CASE WHEN arm = 0 THEN v END), 0)
                AS BIGINT) AS sa,
            CAST(coalesce(sum(CASE WHEN arm = 0 THEN v * v END), 0)
                AS BIGINT) AS ssa,
            CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS nb,
            CAST(coalesce(sum(CASE WHEN arm = 1 THEN v END), 0)
                AS BIGINT) AS sb,
            CAST(coalesce(sum(CASE WHEN arm = 1 THEN v * v END), 0)
                AS BIGINT) AS ssb
        FROM base GROUP BY g
    ), z AS (
        SELECT *, CASE WHEN ({wz}) IS NOT NULL
                       THEN {fixed_e6_expr(wz)} END AS z_e6
        FROM m
    ), r AS (
        SELECT *, row_number() OVER (
            ORDER BY abs(coalesce(z_e6, 0)) DESC, g) AS bh_rank
        FROM z
    ), c AS (
        SELECT *, CASE {crit_case} END AS crit_e6
        FROM r
    ), cs AS (
        SELECT *, (z_e6 IS NOT NULL AND crit_e6 IS NOT NULL
                   AND abs(z_e6) >= crit_e6) AS sig_raw
        FROM c
    ), kk AS (
        SELECT coalesce(max(CASE WHEN sig_raw THEN bh_rank END), 0)
            AS k
        FROM cs
    )
    SELECT g AS group_key, na AS n_a, nb AS n_b,
           CASE WHEN na > 0 THEN
               CASE WHEN (sa * 10000) >= 0
                    THEN ((sa * 10000) * 1) // (na)
                    ELSE -((-(sa * 10000) * 1) // (na)) END
           END AS mean_a_e6,
           CASE WHEN nb > 0 THEN
               CASE WHEN (sb * 10000) >= 0
                    THEN ((sb * 10000) * 1) // (nb)
                    ELSE -((-(sb * 10000) * 1) // (nb)) END
           END AS mean_b_e6,
           z_e6, CAST(bh_rank AS BIGINT) AS bh_rank, crit_e6,
           bh_rank <= kk.k AS rejected
    FROM cs CROSS JOIN kk ORDER BY bh_rank
"""


ORACLES_EXT["events_fdr_screen"] = _fdr_oracle()


def _jsd_oracle() -> str:
    """JSD twin: identical integer ln args (shared _JSD_ARG_*
    strings), identical per-type double tree (shared _jsd_term_sql),
    e6-quantized per type, integer-summed per pair."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )
    from firebase_etl_spark.operators.lm import (
        _JSD_ARG_A,
        _JSD_ARG_B,
        _JSD_ARG_D,
        _jsd_term_sql,
    )

    chain = ln_select_sql(
        "SELECT * FROM args",
        [("arga", "__lna"), ("argb", "__lnb"), ("argd", "__lnd")],
    )
    return f"""
    WITH toks AS (
        SELECT lang AS g,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS w
        FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
    ), tf AS (
        SELECT g, w, CAST(count(*) AS BIGINT) AS c
        FROM toks WHERE w <> '' GROUP BY g, w
    ), tot AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS t FROM tf GROUP BY g
    ), pr AS (
        SELECT a.g AS ga, b.g AS gb, a.t AS ta, b.t AS tb
        FROM tot a, tot b WHERE a.g < b.g
    ), grid AS (
        SELECT pr.ga, pr.gb, pr.ta, pr.tb, tf.w,
               CAST(coalesce(
                   sum(CASE WHEN tf.g = pr.ga THEN c END), 0)
                   AS BIGINT) AS a,
               CAST(coalesce(
                   sum(CASE WHEN tf.g = pr.gb THEN c END), 0)
                   AS BIGINT) AS b
        FROM pr JOIN tf ON tf.g = pr.ga OR tf.g = pr.gb
        GROUP BY 1, 2, 3, 4, 5
    ), args AS (
        SELECT *, {_JSD_ARG_A} AS arga, {_JSD_ARG_B} AS argb,
               {_JSD_ARG_D} AS argd
        FROM grid
    ), per AS (
        SELECT ga, gb, ta, tb, a, b,
               {fixed_e6_expr(_jsd_term_sql())} AS t_e6
        FROM ({chain})
    )
    SELECT ga AS lang_a, gb AS lang_b,
           CAST(max(ta) AS BIGINT) AS n_tokens_a,
           CAST(max(tb) AS BIGINT) AS n_tokens_b,
           CAST(sum(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_types_a,
           CAST(sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_types_b,
           CAST(sum(CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_types_shared,
           CAST(sum(t_e6) AS BIGINT) AS jsd_e6
    FROM per GROUP BY ga, gb ORDER BY lang_a, lang_b
"""


ORACLES_EXT["doc_js_divergence"] = _jsd_oracle()


ORACLES_EXT["customer_golden_records"] = """
    WITH cust AS (
        SELECT c_custkey AS k, c_name,
               CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS bc,
               CAST(c_nationkey AS BIGINT) AS nk
        FROM customer
    ), stack AS (
        SELECT k AS entity_id, 'crm' AS source, CAST(3 AS BIGINT) AS prio,
               CAST(1700000000 + k % 97 AS BIGINT) AS ts,
               c_name AS name, bc AS bal_cents, nk AS nation
        FROM cust
        UNION ALL
        SELECT k, 'web', CAST(2 AS BIGINT),
               CAST(1700000000 + k % 89 + 50 AS BIGINT),
               upper(c_name), bc + 1000, nk
        FROM cust WHERE k % 3 = 0
        UNION ALL
        SELECT k, 'legacy', CAST(1 AS BIGINT),
               CAST(1700000000 - 1000 + k % 7 AS BIGINT),
               c_name, NULL, NULL
        FROM cust WHERE k % 5 = 0
    ), o AS (
        SELECT *, ts * 10 + prio AS ord FROM stack
    ), g AS (
        SELECT entity_id,
               CAST(count(*) AS BIGINT) AS n_records,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               arg_max(name, ord) AS golden_name,
               arg_max(bal_cents,
                   CASE WHEN bal_cents IS NOT NULL THEN ord END)
                   AS golden_bal_cents,
               arg_max(nation,
                   CASE WHEN nation IS NOT NULL THEN prio END)
                   AS golden_nation,
               CAST(count(DISTINCT name) AS BIGINT)
                   AS n_distinct_names,
               max(bal_cents) - min(bal_cents) AS bal_spread_cents
        FROM o GROUP BY entity_id
    )
    SELECT * FROM g WHERE n_records >= 2
    ORDER BY bal_spread_cents DESC, entity_id LIMIT 25
"""


ORACLES_EXT["doc_readability_report"] = """
    WITH base AS (
        SELECT lang AS g,
               CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS BIGINT) AS w,
               CAST(greatest(len(regexp_extract_all(lower(trim(text)),
                   '[.!?]+')), 1) AS BIGINT) AS s,
               CAST(len(regexp_extract_all(lower(trim(text)),
                   '[aeiouy]+')) AS BIGINT) AS y
        FROM documents
        WHERE text IS NOT NULL AND lang IS NOT NULL
    ), scored AS (
        SELECT g,
               206835 - (CASE WHEN (1015 * w) >= 0 THEN ((1015 * w) * 1) // (s) ELSE -((-(1015 * w) * 1) // (s)) END) - (CASE WHEN (84600 * y) >= 0 THEN ((84600 * y) * 1) // (w) ELSE -((-(84600 * y) * 1) // (w)) END) AS f_e3,
               (CASE WHEN (390 * w) >= 0 THEN ((390 * w) * 1) // (s) ELSE -((-(390 * w) * 1) // (s)) END) + (CASE WHEN (11800 * y) >= 0 THEN ((11800 * y) * 1) // (w) ELSE -((-(11800 * y) * 1) // (w)) END) - 15590 AS gr_e3
        FROM base WHERE w > 0
    ), agg AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(f_e3) AS BIGINT) AS sf,
               CAST(sum(gr_e3) AS BIGINT) AS sg,
               CAST(sum(CASE WHEN f_e3 >= 60000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_easy,
               CAST(sum(CASE WHEN f_e3 < 30000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hard
        FROM scored GROUP BY g
    )
    SELECT g AS lang, n AS n_docs,
           CAST(CASE WHEN (sf) >= 0 THEN ((sf) * 1) // (n) ELSE -((-(sf) * 1) // (n)) END AS BIGINT) AS mean_flesch_e3,
           CAST(CASE WHEN (sg) >= 0 THEN ((sg) * 1) // (n) ELSE -((-(sg) * 1) // (n)) END AS BIGINT) AS mean_grade_e3,
           n_easy, n_hard
    FROM agg ORDER BY lang
"""


ORACLES_EXT["orders_winsorized_stats"] = """
    WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS v,
               o_orderkey AS k
        FROM orders WHERE o_totalprice IS NOT NULL
    ), ranked AS (
        SELECT g, v, k,
               row_number() OVER (PARTITION BY g ORDER BY v, k) AS r,
               count(*) OVER (PARTITION BY g) AS n
        FROM base
    ), rr AS (
        SELECT *, greatest((5 * n + 99) // 100, 1) AS r_lo,
               (95 * n + 99) // 100 AS r_hi
        FROM ranked
    ), cuts AS (
        SELECT g, max(CASE WHEN r = r_lo THEN v END) AS lo_cut,
               max(CASE WHEN r = r_hi THEN v END) AS hi_cut
        FROM rr GROUP BY g
    ), j AS (
        SELECT rr.*, cuts.lo_cut, cuts.hi_cut,
               greatest(least(v, cuts.hi_cut), cuts.lo_cut) AS vw
        FROM rr JOIN cuts USING (g)
    ), agg AS (
        SELECT g, CAST(max(n) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS sv,
               CAST(sum(vw) AS BIGINT) AS svw,
               CAST(sum(CASE WHEN r >= r_lo AND r <= r_hi THEN v END)
                   AS BIGINT) AS svt,
               CAST(sum(CASE WHEN r >= r_lo AND r <= r_hi THEN 1
                   ELSE 0 END) AS BIGINT) AS nt,
               CAST(max(lo_cut) AS BIGINT) AS lo_cut_cents,
               CAST(max(hi_cut) AS BIGINT) AS hi_cut_cents
        FROM j GROUP BY g
    )
    SELECT g AS o_orderpriority, n AS n_rows,
           CAST(CASE WHEN (sv) >= 0 THEN ((sv) * 1) // (n) ELSE -((-(sv) * 1) // (n)) END AS BIGINT) AS mean_cents,
           CAST(CASE WHEN (svw) >= 0 THEN ((svw) * 1) // (n) ELSE -((-(svw) * 1) // (n)) END AS BIGINT) AS winsorized_mean_cents,
           CAST(CASE WHEN nt > 0 THEN CASE WHEN (svt) >= 0 THEN ((svt) * 1) // (nt) ELSE -((-(svt) * 1) // (nt)) END END AS BIGINT)
               AS trimmed_mean_cents,
           lo_cut_cents, hi_cut_cents
    FROM agg ORDER BY o_orderpriority
"""


ORACLES_EXT["orders_conformal_intervals"] = """
    WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS v,
               CAST(o_orderkey AS BIGINT) AS k,
               CAST(o_orderkey % 3 AS INT) AS part
        FROM orders WHERE o_totalprice IS NOT NULL
    ), trr AS (
        SELECT g, v, k,
               row_number() OVER (PARTITION BY g ORDER BY v, k) AS r,
               count(*) OVER (PARTITION BY g) AS n
        FROM base WHERE part = 0
    ), tr AS (
        SELECT g, CAST(max(n) AS BIGINT) AS n_train,
               CAST(max(CASE WHEN r = (n + 1) // 2 THEN v END)
                   AS BIGINT) AS pred
        FROM trr GROUP BY g
    ), car AS (
        SELECT b.g, abs(b.v - tr.pred) AS resid, b.k
        FROM base b JOIN tr ON b.g = tr.g WHERE b.part = 1
    ), carr AS (
        SELECT g, resid,
               row_number() OVER (PARTITION BY g ORDER BY resid, k)
                   AS r,
               count(*) OVER (PARTITION BY g) AS n
        FROM car
    ), qs AS (
        SELECT g, CAST(max(n) AS BIGINT) AS n_calib,
               CAST(max(CASE WHEN r =
                   least((90 * (n + 1) + 99) // 100, n)
                   THEN resid END) AS BIGINT) AS q_resid
        FROM carr GROUP BY g
    ), te AS (
        SELECT b.g, tr.n_train, qs.n_calib, tr.pred, qs.q_resid,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN abs(b.v - tr.pred) <= qs.q_resid
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
        FROM base b JOIN tr ON b.g = tr.g JOIN qs ON b.g = qs.g
        WHERE b.part = 2
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT g AS o_orderpriority, n_train, n_calib, n_test,
           pred AS pred_cents, q_resid AS q_resid_cents,
           n_cov AS n_covered,
           CAST(CASE WHEN n_test > 0 THEN CASE WHEN (n_cov) >= 0 THEN ((n_cov) * 1000000) // (n_test) ELSE -((-(n_cov) * 1000000) // (n_test)) END END AS BIGINT)
               AS coverage_e6
    FROM te ORDER BY o_orderpriority
"""


ORACLES_EXT["customer_gains_table"] = """
    WITH outc AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                   AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ), base AS (
        SELECT c.c_acctbal AS sc,
               coalesce(o.y, 0) AS y,
               c.c_custkey AS k
        FROM customer c LEFT JOIN outc o ON c.c_custkey = o.o_custkey
    ), ranked AS (
        SELECT *, row_number() OVER (ORDER BY sc DESC, k) AS r
        FROM base
    ), nt AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS tot
        FROM ranked
    ), b AS (
        SELECT ((r - 1) * 10) // n AS bucket,
               CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(y) AS BIGINT) AS outcome_cents,
               CAST(max(n) AS BIGINT) AS n,
               CAST(max(tot) AS BIGINT) AS tot
        FROM ranked CROSS JOIN nt
        GROUP BY 1
    ), c AS (
        SELECT *,
               CAST(sum(outcome_cents) OVER (ORDER BY bucket) AS BIGINT)
                   AS cum_y,
               CAST(sum(n_units) OVER (ORDER BY bucket) AS BIGINT)
                   AS cum_n
        FROM b
    ), d AS (
        SELECT *, CASE WHEN tot > 0 THEN CASE WHEN (tot) < 8796093022208 THEN ((cum_y) * 1000000) // (tot) ELSE (((cum_y) // 1048576) * 1000000) // ((tot) // 1048576) END END AS cum_share_e6
        FROM c
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_units, outcome_cents,
           cum_y AS cum_outcome_cents,
           CAST(cum_share_e6 AS BIGINT) AS cum_outcome_share_e6,
           CAST(CASE WHEN n > 0 THEN CASE WHEN (n) < 8796093022208 THEN ((cum_n) * 1000000) // (n) ELSE (((cum_n) // 1048576) * 1000000) // ((n) // 1048576) END END AS BIGINT)
               AS cum_unit_share_e6,
           CAST(CASE WHEN cum_n > 0 AND cum_share_e6 IS NOT NULL
               THEN CASE WHEN n < 8796093022208 THEN (cum_share_e6 * n) // cum_n ELSE (cum_share_e6 * (n // 1048576)) // (cum_n // 1048576) END END AS BIGINT) AS lift_e6
    FROM d ORDER BY bucket
"""


def _calibration_oracle() -> str:
    from firebase_etl_spark.functions.portable_math import (
        sdiv_scaled_sql,
    )

    conf = sdiv_scaled_sql("sp", "n", 1, "//")
    acc = sdiv_scaled_sql("sy * 1000000", "n", 1, "//")
    brier = sdiv_scaled_sql("ssqt", "nt", 1, "//")
    ece = sdiv_scaled_sql("gap_sum", "nt", 1, "//")
    return f"""
    WITH base AS (
        SELECT least(CAST(len(regexp_split_to_array(
                   lower(trim(text)), '\\s+')) AS BIGINT) * 10000,
                   1000000) AS p,
               CAST(list_contains(regexp_split_to_array(
                   lower(trim(text)), '\\s+'), 'spark') AS BIGINT)
                   AS y
        FROM documents WHERE text IS NOT NULL
    ), binned AS (
        SELECT least((p * 10) // 1000000, 9) AS bin, p, y,
               ((p - y * 1000000) * (p - y * 1000000)) // 1000000
                   AS sq_e6
        FROM base
    ), per AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(p) AS BIGINT) AS sp,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(sq_e6) AS BIGINT) AS ssq
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(ssq) AS BIGINT) AS ssqt,
               CAST(sum(abs(sy * 1000000 - sp)) AS BIGINT) AS gap_sum
        FROM per
    )
    SELECT CAST(bin AS INT) AS bin, n AS n_rows,
           CAST({conf} AS BIGINT) AS conf_e6,
           CAST({acc} AS BIGINT) AS acc_e6,
           CAST(({acc}) - ({conf}) AS BIGINT) AS gap_e6,
           CAST({brier} AS BIGINT) AS brier_e6,
           CAST({ece} AS BIGINT) AS ece_e6,
           nt AS n_total
    FROM per CROSS JOIN tot ORDER BY bin
"""


ORACLES_EXT["doc_calibration_report"] = _calibration_oracle()


ORACLES_EXT["doc_phrase_search"] = """
    WITH base AS (
        SELECT doc_id AS did,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), toks AS (
        SELECT did, p.pos - 1 AS pos, tk[p.pos] AS term
        FROM base, unnest(range(1, len(tk) + 1)) AS p(pos)
        WHERE tk[p.pos] <> ''
    ), ph(phrase, n_terms, k, term) AS (
        VALUES ('group query', 2, 0, 'group'),
               ('group query', 2, 1, 'query'),
               ('slow small filter', 3, 0, 'slow'),
               ('slow small filter', 3, 1, 'small'),
               ('slow small filter', 3, 2, 'filter'),
               ('vector table', 2, 0, 'vector'),
               ('vector table', 2, 1, 'table'),
               ('the column', 2, 0, 'the'),
               ('the column', 2, 1, 'column'),
               ('quantum zebra', 2, 0, 'quantum'),
               ('quantum zebra', 2, 1, 'zebra')
    ), j AS (
        SELECT ph.phrase, ph.n_terms, t.did,
               t.pos - ph.k AS anchor
        FROM toks t JOIN ph ON t.term = ph.term
    ), anchors AS (
        SELECT phrase, n_terms, did, anchor, count(*) AS n_hit
        FROM j GROUP BY 1, 2, 3, 4
    ), ok AS (
        SELECT phrase, n_terms, did, anchor FROM anchors
        WHERE n_hit = n_terms AND anchor >= 0
    ), per_doc AS (
        SELECT phrase, n_terms, did,
               CAST(count(*) AS BIGINT) AS hits
        FROM ok GROUP BY 1, 2, 3
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY phrase ORDER BY hits DESC, did ASC) AS rn
        FROM per_doc
    )
    SELECT phrase, CAST(max(n_terms) AS BIGINT) AS n_terms,
           CAST(count(*) AS BIGINT) AS n_matching_docs,
           CAST(sum(hits) AS BIGINT) AS n_occurrences,
           CAST(max(CASE WHEN rn = 1 THEN did END) AS BIGINT)
               AS top_doc_id,
           CAST(max(CASE WHEN rn = 1 THEN hits END) AS BIGINT)
               AS top_doc_hits
    FROM ranked GROUP BY phrase ORDER BY phrase
"""


def _gsq_oracle() -> str:
    """Group-sequential twin: shared welch_z_sql() cumulative tree,
    identical integer look cutoffs, identical OBF literals."""
    from firebase_etl_spark.functions.portable_math import fixed_e6_expr
    from firebase_etl_spark.operators.stats import (
        OBF_CRIT_E6_K4,
        welch_z_sql,
    )

    wz = welch_z_sql()
    look_case = " ".join(
        f"WHEN us <= mn + ((mx - mn) * {k + 1}) // 4 THEN {k + 1}"
        for k in range(4)
    )
    crit_case = " ".join(
        f"WHEN look = {k + 1} THEN CAST({c} AS BIGINT)"
        for k, c in enumerate(OBF_CRIT_E6_K4)
    )
    return f"""
    WITH base AS (
        SELECT CAST(user_id % 2 AS INT) AS arm,
               CAST(round(value * 100.0, 0) AS BIGINT) AS v,
               epoch_us(ts) AS us
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND ts IS NOT NULL
    ), span AS (SELECT min(us) AS mn, max(us) AS mx FROM base),
    sliced AS (
        SELECT arm, v, mn, mx,
               CASE {look_case} ELSE 4 END AS look
        FROM base CROSS JOIN span
    ), per AS (
        SELECT look,
               CAST(max(mn + ((mx - mn) * look) // 4) AS BIGINT)
                   AS cutoff_us,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS ia,
               CAST(coalesce(sum(CASE WHEN arm = 0 THEN v END), 0)
                   AS BIGINT) AS xa,
               CAST(coalesce(sum(CASE WHEN arm = 0 THEN v * v END), 0)
                   AS BIGINT) AS qa,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS ib,
               CAST(coalesce(sum(CASE WHEN arm = 1 THEN v END), 0)
                   AS BIGINT) AS xb,
               CAST(coalesce(sum(CASE WHEN arm = 1 THEN v * v END), 0)
                   AS BIGINT) AS qb
        FROM sliced GROUP BY look
    ), cum AS (
        SELECT look, cutoff_us,
               CAST(sum(ia) OVER w AS BIGINT) AS na,
               CAST(sum(xa) OVER w AS BIGINT) AS sa,
               CAST(sum(qa) OVER w AS BIGINT) AS ssa,
               CAST(sum(ib) OVER w AS BIGINT) AS nb,
               CAST(sum(xb) OVER w AS BIGINT) AS sb,
               CAST(sum(qb) OVER w AS BIGINT) AS ssb
        FROM per WINDOW w AS (ORDER BY look
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), z AS (
        SELECT *, CASE WHEN ({wz}) IS NOT NULL
                       THEN {fixed_e6_expr(wz)} END AS z_e6
        FROM cum
    ), fl AS (
        SELECT *, CASE {crit_case} END AS obf_crit_e6
        FROM z
    ), fl2 AS (
        SELECT *, (z_e6 IS NOT NULL AND abs(z_e6) >= obf_crit_e6)
            AS crossed
        FROM fl
    ), first AS (
        SELECT CAST(coalesce(
            min(CASE WHEN crossed THEN look END), 0) AS BIGINT)
            AS first_crossed_look
        FROM fl2
    )
    SELECT CAST(look AS BIGINT) AS look, cutoff_us,
           na AS n_a, nb AS n_b, z_e6, obf_crit_e6, crossed,
           first_crossed_look
    FROM fl2 CROSS JOIN first ORDER BY look
"""


ORACLES_EXT["events_group_sequential"] = _gsq_oracle()


def _ql_oracle(mu: int = 50, k: int = 10) -> str:
    """Dirichlet query-likelihood twin: identical integer ln args,
    identical matched-postings rank decomposition, e6 per-term
    quantization, integer score algebra."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )

    chain_m = ln_select_sql(
        "SELECT * FROM m",
        [("num", "__lnn"), ("den", "__lnd")],
    )
    chain_d = ln_select_sql(
        "SELECT * FROM dterm",
        [("dlarg", "__lndl")],
    )
    return f"""
    WITH base AS (
        SELECT doc_id AS did,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), toks AS (
        SELECT did, len(tk) AS dl, t.term
        FROM base, unnest(tk) AS t(term)
        WHERE t.term <> ''
    ), ctot AS (
        SELECT CAST(count(*) AS BIGINT) AS c_tokens FROM toks
    ), cfx AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cf
        FROM toks GROUP BY term
    ), qt AS (
        SELECT DISTINCT did AS query_id, term
        FROM toks WHERE did IN (0, 1, 2, 3, 4)
    ), qlen AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS qn
        FROM qt GROUP BY query_id
    ), tf AS (
        SELECT did, dl, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE term IN (SELECT term FROM qt)
        GROUP BY did, dl, term
    ), m AS (
        SELECT q.query_id, t.did, t.dl, t.tf, cfx.cf, ctot.c_tokens,
               t.tf * ctot.c_tokens + {mu} * cfx.cf AS num,
               {mu} * cfx.cf AS den
        FROM tf t JOIN qt q USING (term) JOIN cfx USING (term)
        CROSS JOIN ctot
        WHERE t.did <> q.query_id
    ), adj AS (
        SELECT query_id, did, dl,
               {fixed_e6_expr("__lnn - __lnd")} AS adj_e6
        FROM ({chain_m})
    ), per_doc AS (
        SELECT query_id, did, dl,
               CAST(count(*) AS BIGINT) AS n_matched,
               CAST(sum(adj_e6) AS BIGINT) AS s_adj
        FROM adj GROUP BY 1, 2, 3
    ), dterm AS (
        SELECT p.*, (dl + {mu}) * ctot.c_tokens AS dlarg
        FROM per_doc p CROSS JOIN ctot
    ), scored AS (
        SELECT query_id, did, n_matched,
               s_adj - qlen.qn * ({fixed_e6_expr("__lndl")})
                   AS score_e6
        FROM ({chain_d}) JOIN qlen USING (query_id)
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score_e6 DESC, did) AS rank
        FROM scored
    )
    SELECT query_id, did AS doc_id, n_matched,
           CAST(score_e6 AS BIGINT) AS score_e6,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
"""


ORACLES_EXT["documents_ql_topk"] = _ql_oracle()


ORACLES_EXT["nation_revenue_jackknife"] = """
    WITH base AS (
        SELECT n.n_name AS g,
               CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_totalprice IS NOT NULL
    ), per AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s
        FROM base GROUP BY g
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(s) AS BIGINT) AS st
        FROM per
    )
    SELECT g AS n_name, n AS n_rows, s AS sum_cents,
           CAST(CASE WHEN (s) >= 0 THEN ((s) * 1) // (n) ELSE -((-(s) * 1) // (n)) END AS BIGINT) AS mean_cents,
           CAST(CASE WHEN nt - n > 0 THEN CASE WHEN (st - s) >= 0 THEN ((st - s) * 1) // (nt - n) ELSE -((-(st - s) * 1) // (nt - n)) END END AS BIGINT)
               AS mean_without_cents,
           CAST(CASE WHEN nt - n > 0 THEN (CASE WHEN (st - s) >= 0 THEN ((st - s) * 1) // (nt - n) ELSE -((-(st - s) * 1) // (nt - n)) END) - (CASE WHEN (st) >= 0 THEN ((st) * 1) // (nt) ELSE -((-(st) * 1) // (nt)) END) END
               AS BIGINT) AS influence_cents,
           CAST(CASE WHEN (st) >= 0 THEN ((st) * 1) // (nt) ELSE -((-(st) * 1) // (nt)) END AS BIGINT) AS overall_mean_cents
    FROM per CROSS JOIN tot
    ORDER BY abs(coalesce(CASE WHEN nt - n > 0
        THEN (CASE WHEN (st - s) >= 0 THEN ((st - s) * 1) // (nt - n) ELSE -((-(st - s) * 1) // (nt - n)) END) - (CASE WHEN (st) >= 0 THEN ((st) * 1) // (nt) ELSE -((-(st) * 1) // (nt)) END) END, 0)) DESC, n_name
"""


ORACLES_EXT["lineitem_partition_advisor"] = """
    WITH rows_agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(8 + 8 + 8 + 4 + 8 + 8 + 8 + 8 + (coalesce(length(l_returnflag), 0) + 4) + (coalesce(length(l_linestatus), 0) + 4) + 8) AS BIGINT) AS est_total_bytes
        FROM lineitem
    ), keys AS (
        SELECT CAST(count(*) AS BIGINT) AS n_distinct_keys,
               CAST(max(c) AS BIGINT) AS max_key_freq
        FROM (SELECT l_orderkey, count(*) AS c FROM lineitem
              GROUP BY l_orderkey)
    )
    SELECT n_rows, est_total_bytes,
           CAST(CASE WHEN n_rows > 0
               THEN est_total_bytes // n_rows END AS BIGINT)
               AS avg_row_bytes,
           n_distinct_keys, max_key_freq,
           CAST(CASE WHEN n_rows > 0 THEN CASE WHEN (max_key_freq * n_distinct_keys) >= 0 THEN ((max_key_freq * n_distinct_keys) * 1000000) // (n_rows) ELSE -((-(max_key_freq * n_distinct_keys) * 1000000) // (n_rows)) END END AS BIGINT)
               AS skew_ratio_e6,
           CAST(greatest((est_total_bytes + 134217727) // 134217728, 1) AS BIGINT) AS recommended_partitions,
           CAST(CASE WHEN n_rows > 0 THEN n_rows // (greatest((est_total_bytes + 134217727) // 134217728, 1)) END
               AS BIGINT) AS rows_per_partition
    FROM rows_agg CROSS JOIN keys
"""


ORACLES_EXT["doc_rake_keywords"] = """
    WITH toks AS (
        SELECT doc_id AS did, p.pos - 1 AS pos, tk[p.pos] AS term
        FROM (SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+')
                         AS tk
              FROM documents
              WHERE text IS NOT NULL AND doc_id IS NOT NULL),
             unnest(range(1, len(tk) + 1)) AS p(pos)
        WHERE tk[p.pos] <> ''
    ), st AS (
        SELECT did, pos, term,
               CASE WHEN term IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it') THEN 1 ELSE 0 END AS is_stop
        FROM toks
    ), seg AS (
        SELECT *, sum(is_stop) OVER (PARTITION BY did ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        FROM st
    ), cand AS (
        SELECT did, seg,
               array_to_string(
                   (array_agg(term ORDER BY pos))[1:4], ' ') AS phrase
        FROM seg WHERE is_stop = 0
        GROUP BY did, seg
        HAVING array_to_string(
                   (array_agg(term ORDER BY pos))[1:4], ' ') <> ''
    ), words AS (
        SELECT phrase,
               len(string_split(phrase, ' ')) AS plen,
               w.wd
        FROM cand, unnest(string_split(phrase, ' ')) AS w(wd)
    ), wscore AS (
        SELECT wd, CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(plen) AS BIGINT) AS degree
        FROM words GROUP BY wd
    ), ws AS (
        SELECT wd, (degree * 1000000) // freq AS ws_e6 FROM wscore
    ), dph AS (
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM cand GROUP BY phrase
    ), pw AS (
        SELECT phrase, n_occurrences,
               len(string_split(phrase, ' ')) AS plen, w.wd
        FROM dph, unnest(string_split(phrase, ' ')) AS w(wd)
    )
    SELECT phrase, CAST(max(plen) AS BIGINT) AS n_words,
           n_occurrences,
           CAST(sum(ws.ws_e6) AS BIGINT) AS score_e6
    FROM pw JOIN ws USING (wd)
    GROUP BY phrase, n_occurrences
    ORDER BY score_e6 DESC, n_occurrences DESC, phrase LIMIT 20
"""


ORACLES_EXT["part_type_mix_shift"] = """
    WITH li AS (
        SELECT p.p_type AS g,
               CAST(round(l.l_quantity, 0) AS BIGINT) AS q,
               CAST(round(l.l_extendedprice * 100.0, 0) AS BIGINT)
                   AS r,
               date_diff('day', DATE '1970-01-01',
                   CAST(l.l_shipdate AS DATE)) AS us
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate IS NOT NULL
          AND l.l_extendedprice IS NOT NULL
          AND l.l_quantity IS NOT NULL
    ), span AS (SELECT min(us) AS mn, max(us) AS mx FROM li),
    cells AS (
        SELECT g,
               CAST(coalesce(sum(CASE WHEN us <= (mn + mx) // 2
                   THEN q END), 0) AS BIGINT) AS q0,
               CAST(coalesce(sum(CASE WHEN us > (mn + mx) // 2
                   THEN q END), 0) AS BIGINT) AS q1,
               CAST(coalesce(sum(CASE WHEN us <= (mn + mx) // 2
                   THEN r END), 0) AS BIGINT) AS r0,
               CAST(coalesce(sum(CASE WHEN us > (mn + mx) // 2
                   THEN r END), 0) AS BIGINT) AS r1
        FROM li CROSS JOIN span GROUP BY g
    ), priced AS (
        SELECT *,
               CASE WHEN q0 > 0 THEN CASE WHEN (r0) >= 0 THEN ((r0) * 10000) // (q0) ELSE -((-(r0) * 10000) // (q0)) END END AS p0_e4,
               CASE WHEN q1 > 0 THEN CASE WHEN (r1) >= 0 THEN ((r1) * 10000) // (q1) ELSE -((-(r1) * 10000) // (q1)) END END AS p1_e4,
               r1 - r0 AS delta_cents
        FROM cells
    ), eff AS (
        SELECT *,
               CASE WHEN q0 > 0 AND q1 > 0
                    THEN (p1_e4 - p0_e4) * q0 END AS price_effect_e4,
               CASE WHEN q0 > 0 AND q1 > 0
                    THEN p0_e4 * (q1 - q0) END AS volume_effect_e4,
               CASE WHEN q0 > 0 AND q1 > 0
                    THEN (p1_e4 - p0_e4) * (q1 - q0) END
                   AS mix_effect_e4
        FROM priced
    )
    SELECT g AS p_type, q0, q1, r0 AS rev0_cents, r1 AS rev1_cents,
           delta_cents,
           CAST(price_effect_e4 AS BIGINT) AS price_effect_e4,
           CAST(volume_effect_e4 AS BIGINT) AS volume_effect_e4,
           CAST(mix_effect_e4 AS BIGINT) AS mix_effect_e4,
           CAST(CASE WHEN q0 > 0 AND q1 > 0
               THEN delta_cents * 10000 - (price_effect_e4
                    + volume_effect_e4 + mix_effect_e4) END
               AS BIGINT) AS residual_e4
    FROM eff ORDER BY abs(delta_cents) DESC, p_type LIMIT 15
"""


def _stream_ab_oracle() -> str:
    """Batch replay of the streaming A/B monitor's final emission:
    the state is six batching-invariant integer sums, so one
    aggregate + the shared welch tree reproduces it exactly."""
    from firebase_etl_spark.functions.portable_math import fixed_e6_expr
    from firebase_etl_spark.operators.stats import welch_z_sql

    wz = welch_z_sql()
    return f"""
    WITH base AS (
        SELECT event_type AS g, CAST(user_id % 2 AS INT) AS arm,
               CAST(round(value * 100.0, 0) AS BIGINT) AS v
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL
    ), m AS (
        SELECT g,
            CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS na,
            CAST(coalesce(sum(CASE WHEN arm = 0 THEN v END), 0)
                AS BIGINT) AS sa,
            CAST(coalesce(sum(CASE WHEN arm = 0 THEN v * v END), 0)
                AS BIGINT) AS ssa,
            CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS nb,
            CAST(coalesce(sum(CASE WHEN arm = 1 THEN v END), 0)
                AS BIGINT) AS sb,
            CAST(coalesce(sum(CASE WHEN arm = 1 THEN v * v END), 0)
                AS BIGINT) AS ssb
        FROM base GROUP BY g
    )
    SELECT g AS event_type, n_events, na AS n_a, nb AS n_b,
           CASE WHEN ({wz}) IS NOT NULL
                THEN {fixed_e6_expr(wz)} END AS z_e6,
           CASE WHEN ({wz}) IS NOT NULL
                THEN abs({fixed_e6_expr(wz)}) >= 1959964
                ELSE false END AS significant
    FROM m ORDER BY event_type
"""


ORACLES_EXT["stream_ab_monitor"] = _stream_ab_oracle()


ORACLES_EXT["events_ks_drift"] = """
    WITH base AS (
        SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
               epoch_us(ts) AS us
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
          AND ts IS NOT NULL
    ), span AS (
        SELECT (CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT))
            // 2 AS tmid
        FROM base
    ), halves AS (
        SELECT g, v,
               CASE WHEN us <= tmid THEN 1 ELSE 0 END AS early
        FROM base CROSS JOIN span
    ), hist AS (
        SELECT g, v, CAST(sum(early) AS BIGINT) AS d1,
               CAST(sum(1 - early) AS BIGINT) AS d2
        FROM halves GROUP BY g, v
    ), tot AS (
        SELECT g, CAST(sum(d1) AS BIGINT) AS n1,
               CAST(sum(d2) AS BIGINT) AS n2
        FROM hist GROUP BY g
    ), cum AS (
        SELECT h.g, h.v, t.n1, t.n2,
               CAST(sum(d1) OVER w AS BIGINT) AS c1,
               CAST(sum(d2) OVER w AS BIGINT) AS c2
        FROM hist h JOIN tot t USING (g)
        WINDOW w AS (PARTITION BY h.g ORDER BY h.v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), gaps AS (
        SELECT g, v, n1, n2, abs(c1 * n2 - c2 * n1) AS gap
        FROM cum
    ), mx AS (
        SELECT g, CAST(max(gap) AS BIGINT) AS dnum FROM gaps GROUP BY g
    ), best AS (
        SELECT gaps.g, n1, n2, dnum, min(v) AS ks_at_value
        FROM gaps JOIN mx ON gaps.g = mx.g AND gaps.gap = mx.dnum
        GROUP BY gaps.g, n1, n2, dnum
    )
    SELECT g AS event_type, n1 AS n_early, n2 AS n_late,
           CAST(CASE WHEN n1 > 0 AND n2 > 0 THEN CASE WHEN (dnum) >= 0 THEN ((dnum) * 1000000) // (n1 * n2) ELSE -((-(dnum) * 1000000) // (n1 * n2)) END END AS BIGINT)
               AS ks_e6,
           round(ks_at_value, 6) AS ks_at_value,
           CAST(CASE WHEN n1 > 0 AND n2 > 0
               THEN CAST(round((CAST('1.3581015157406195' AS DOUBLE) * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))) * 1000000.0 + 1e-9, 0) AS BIGINT) END AS BIGINT) AS crit_e6,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN (CASE WHEN (dnum) >= 0 THEN ((dnum) * 1000000) // (n1 * n2) ELSE -((-(dnum) * 1000000) // (n1 * n2)) END) >= CAST(round((CAST('1.3581015157406195' AS DOUBLE) * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))) * 1000000.0 + 1e-9, 0) AS BIGINT)
                ELSE false END AS drifted
    FROM best ORDER BY event_type
"""


#: sign-split truncating /4 over a possibly negative HUGEINT/BIGINT x
def _t4(x: str) -> str:
    return (
        f"CASE WHEN ({x}) >= 0 THEN ({x}) // 4"
        f" ELSE -((-({x})) // 4) END"
    )


ORACLES_EXT["events_holt_forecast"] = f"""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY day) AS i, n FROM (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE ts IS NOT NULL GROUP BY 1)),
    rec AS (
        SELECT CAST(1 AS BIGINT) AS i,
               (SELECT n FROM daily WHERE i = 1) * 1000000 AS l,
               ((SELECT n FROM daily WHERE i = 2)
                - (SELECT n FROM daily WHERE i = 1)) * 1000000 AS b,
               CAST(0 AS BIGINT) AS eh, CAST(0 AS BIGINT) AS en
        UNION ALL
        SELECT r.i + 1,
               {_t4("d.n * 1000000 + 3 * (r.l + r.b)")},
               {_t4(
                   "(" + _t4("d.n * 1000000 + 3 * (r.l + r.b)")
                   + " - r.l) + 3 * r.b"
               )},
               r.eh + abs(d.n * 1000000 - (r.l + r.b)),
               r.en + abs(d.n - dp.n) * 1000000
        FROM rec r
        JOIN daily d ON d.i = r.i + 1
        JOIN daily dp ON dp.i = r.i),
    lastr AS (SELECT * FROM rec ORDER BY i DESC LIMIT 1)
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(l.eh AS BIGINT) AS holt_abs_err_e6,
           CAST(l.en AS BIGINT) AS naive_abs_err_e6,
           CAST(CASE WHEN l.en > 0 THEN (l.eh * 1000000) // l.en
                ELSE NULL END AS BIGINT) AS skill_e6,
           CAST(l.l AS BIGINT) AS level_e6,
           CAST(l.b AS BIGINT) AS trend_e6,
           CAST(l.l + l.b AS BIGINT) AS forecast_next_e6
    FROM lastr l
"""


ORACLES_EXT["events_capture_recapture"] = """
    WITH base AS (
        SELECT user_id AS u, epoch_us(ts) AS us
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), span AS (
        SELECT (CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT))
            // 2 AS tmid
        FROM base
    ), per_u AS (
        SELECT u,
               max(CASE WHEN us <= tmid THEN 1 ELSE 0 END) AS e,
               max(CASE WHEN us > tmid THEN 1 ELSE 0 END) AS l
        FROM base CROSS JOIN span GROUP BY u
    ), agg AS (
        SELECT CAST(sum(e) AS BIGINT) AS n1,
               CAST(sum(l) AS BIGINT) AS n2,
               CAST(sum(e * l) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS actual
        FROM per_u
    ), named AS (
        SELECT n1 AS n_first, n2 AS n_second, m AS n_overlap,
               ((n1 + 1) * (n2 + 1)) // (m + 1) - 1
                   AS chapman_estimate,
               actual AS actual_distinct
        FROM agg
    )
    SELECT n_first, n_second, n_overlap,
           CAST(chapman_estimate AS BIGINT) AS chapman_estimate,
           actual_distinct,
           CAST(CASE WHEN actual_distinct > 0 THEN CASE WHEN (abs(chapman_estimate - actual_distinct)) >= 0 THEN ((abs(chapman_estimate - actual_distinct)) * 1000000) // (actual_distinct) ELSE -((-(abs(chapman_estimate - actual_distinct)) * 1000000) // (actual_distinct)) END END
               AS BIGINT) AS err_e6
    FROM named
"""


ORACLES_EXT["nation_conversion_shrinkage"] = """
    WITH per AS (
        SELECT c.c_nationkey AS g,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o.o_custkey IS NOT NULL
                   THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
          ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey
    ), rated AS (
        SELECT g, n, k, CASE WHEN (k) >= 0 THEN ((k) * 1000000) // (n) ELSE -((-(k) * 1000000) // (n)) END AS r_e6 FROM per WHERE n > 0
    ), momsum AS (
        SELECT CAST(count(*) AS BIGINT) AS gn,
               CAST(sum(r_e6) AS BIGINT) AS sr,
               CAST(sum(r_e6 * r_e6) AS BIGINT) AS srr
        FROM rated
    ), mom1 AS (
        SELECT gn, sr // gn AS mu_e6,
               CASE WHEN gn > 1 THEN
                   (srr - (sr // gn) * sr) // (gn - 1) END AS var_e12
        FROM momsum
    ), mom2 AS (
        SELECT *, CASE WHEN var_e12 > 0 THEN least(
                   (mu_e6 * (1000000 - mu_e6)) // var_e12,
                   1000000000) END AS ratio
        FROM mom1
    ), mom AS (
        SELECT *,
               CASE WHEN ratio IS NOT NULL AND ratio > 1 THEN
                   (mu_e6 * (ratio - 1)) // 1000 END AS alpha_e3,
               CASE WHEN ratio IS NOT NULL AND ratio > 1 THEN
                   ((1000000 - mu_e6) * (ratio - 1)) // 1000 END
                   AS beta_e3
        FROM mom2
    )
    SELECT g AS c_nationkey, n AS n_units, k AS k_hits,
           r_e6 AS raw_rate_e6,
           CAST(CASE WHEN alpha_e3 IS NOT NULL THEN CASE WHEN (k * 1000 + alpha_e3) >= 0 THEN ((k * 1000 + alpha_e3) * 1000000) // (n * 1000 + alpha_e3 + beta_e3) ELSE -((-(k * 1000 + alpha_e3) * 1000000) // (n * 1000 + alpha_e3 + beta_e3)) END
               ELSE r_e6 END AS BIGINT) AS shrunk_rate_e6,
           CAST(CASE WHEN alpha_e3 IS NOT NULL THEN CASE WHEN (alpha_e3 + beta_e3) >= 0 THEN ((alpha_e3 + beta_e3) * 1000000) // (n * 1000 + alpha_e3 + beta_e3) ELSE -((-(alpha_e3 + beta_e3) * 1000000) // (n * 1000 + alpha_e3 + beta_e3)) END
               ELSE 0 END AS BIGINT) AS prior_weight_e6,
           CAST(alpha_e3 AS BIGINT) AS alpha_e3,
           CAST(beta_e3 AS BIGINT) AS beta_e3
    FROM rated CROSS JOIN mom ORDER BY c_nationkey
"""


def _fd_oracle() -> str:
    parts = []
    for x, y in [
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"),
    ]:
        parts.append(f"""
    SELECT '{x}' AS determinant, '{y}' AS dependent,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_keys,
           CAST(max(nv) AS BIGINT) AS max_variants,
           sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (
        SELECT xx, count(*) AS nv FROM (
            SELECT DISTINCT {x} AS xx, {y} AS yy FROM orders
            WHERE {x} IS NOT NULL
        ) GROUP BY xx
    )""")
        u = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({u}) ORDER BY determinant, dependent"


ORACLES_EXT["orders_fd_audit"] = _fd_oracle()


ORACLES_EXT["events_power_analysis"] = """
    WITH pu AS (
        SELECT event_type, user_id, count(*) AS c FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ), per AS (
        SELECT event_type AS g,
               CAST(sum(CASE WHEN c >= 15 THEN 1 ELSE 0 END)
                   AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n
        FROM pu GROUP BY event_type
    ), rated AS (
        SELECT *, (k * 1000000) // n AS p_e6 FROM per WHERE n > 0
    ), sized AS (
        SELECT *,
               (p_e6 * 100000) // 1000000 AS delta_e6,
               p_e6 + ((p_e6 * 100000) // 2000000) AS pbar_e6
        FROM rated WHERE p_e6 > 0 AND p_e6 < 1000000
    ), t AS (
        SELECT *, least(
            (2 * pbar_e6 * (1000000 - pbar_e6) * 1000)
                // (delta_e6 * delta_e6), 1000000) AS t1
        FROM sized WHERE delta_e6 > 0
    )
    SELECT g AS event_type, n AS n_baseline, k AS k_hits,
           p_e6, delta_e6,
           CAST((t1 * 7848878512225) // 1000000000000000 AS BIGINT)
               AS n_required_per_arm,
           n >= (t1 * 7848878512225) // 1000000000000000 AS powered_now
    FROM t ORDER BY event_type
"""


ORACLES_EXT["events_next_event_accuracy"] = """
    WITH base AS (
        SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us,
               event_id AS eid
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND ts IS NOT NULL
    ), pairs AS (
        SELECT u, t, us, eid,
               lead(t) OVER w AS nxt, lead(us) OVER w AS nxt_us
        FROM base WINDOW w AS (PARTITION BY u ORDER BY us, eid)
    ), span AS (
        SELECT (CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT))
            // 2 AS tmid
        FROM base
    ), lab AS (
        SELECT p.*, p.nxt_us <= s.tmid AS is_train
        FROM pairs p CROSS JOIN span s WHERE p.nxt IS NOT NULL
    ), train AS (
        SELECT t, nxt, count(*) AS c FROM lab WHERE is_train
        GROUP BY t, nxt
    ), pred AS (
        SELECT t AS pt, nxt AS predicted FROM (
            SELECT *, row_number() OVER (
                PARTITION BY t ORDER BY c DESC, nxt) AS r
            FROM train) WHERE r = 1
    ), maj AS (
        SELECT nxt AS baseline_to FROM (
            SELECT nxt, sum(c) AS c FROM train GROUP BY nxt
            ORDER BY c DESC, nxt LIMIT 1)
    ), test AS (
        SELECT l.t, l.nxt,
               coalesce(p.predicted, m.baseline_to) AS pfinal,
               m.baseline_to
        FROM lab l
        LEFT JOIN pred p ON l.t = p.pt
        CROSS JOIN maj m
        WHERE NOT l.is_train
    ), agg AS (
        SELECT t, max(pfinal) AS predicted_to,
               max(baseline_to) AS baseline_to,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN nxt = pfinal THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct,
               CAST(sum(CASE WHEN nxt = baseline_to THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_bcorrect
        FROM test GROUP BY t
    )
    SELECT t AS from_state, predicted_to, n_test, n_correct,
           CAST(CASE WHEN (n_correct) >= 0 THEN ((n_correct) * 1000000) // (n_test) ELSE -((-(n_correct) * 1000000) // (n_test)) END AS BIGINT) AS acc_e6,
           baseline_to, n_bcorrect AS n_baseline_correct,
           CAST(CASE WHEN (n_bcorrect) >= 0 THEN ((n_bcorrect) * 1000000) // (n_test) ELSE -((-(n_bcorrect) * 1000000) // (n_test)) END AS BIGINT) AS baseline_acc_e6
    FROM agg ORDER BY from_state
"""


def _qnorm_oracle(n_q: int = 10) -> str:
    hit = (
        f"list_filter(list_transform(range(1, {n_q + 1}), i ->"
        f" CASE WHEN r = greatest((i * n + {n_q - 1}) // {n_q}, 1)"
        f" THEN i END), x -> x IS NOT NULL)"
    )
    return f"""
    WITH base AS (
        SELECT event_type AS g,
               CAST(round(value * 100.0, 0) AS BIGINT) AS v,
               event_id AS k
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), ranked_g AS (
        SELECT g, v, k,
               row_number() OVER (PARTITION BY g ORDER BY v, k) AS r,
               count(*) OVER (PARTITION BY g) AS n
        FROM base
    ), hg AS (
        SELECT g, v, {hit} AS hits FROM ranked_g
    ), src AS (
        SELECT g, v AS qv, u.q_idx
        FROM hg, unnest(hits) AS u(q_idx)
    ), ranked_p AS (
        SELECT v, k, row_number() OVER (ORDER BY v, k) AS r,
               count(*) OVER () AS n
        FROM base
    ), hp AS (
        SELECT v, {hit} AS hits FROM ranked_p
    ), pooled AS (
        SELECT u.q_idx, v AS pooled_q_cents
        FROM hp, unnest(hits) AS u(q_idx)
    )
    SELECT s.g AS event_type, CAST(s.q_idx AS BIGINT) AS q_idx,
           s.qv AS src_q_cents, p.pooled_q_cents,
           p.pooled_q_cents - s.qv AS adjust_cents
    FROM src s JOIN pooled p USING (q_idx)
    ORDER BY event_type, q_idx
"""


ORACLES_EXT["events_quantile_normalization"] = _qnorm_oracle()


ORACLES_EXT["doc_isotonic_calibration"] = """
    WITH base AS (
        SELECT least(CAST(len(regexp_split_to_array(
                   lower(trim(text)), '\\s+')) AS BIGINT) * 10000,
                   1000000) AS p,
               CAST(list_contains(regexp_split_to_array(
                   lower(trim(text)), '\\s+'), 'spark') AS BIGINT)
                   AS y
        FROM documents WHERE text IS NOT NULL
    ), per AS (
        SELECT least((p * 10) // 1000000, 9) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(p) AS BIGINT) AS sp,
               CAST(sum(y) AS BIGINT) AS sy
        FROM base GROUP BY 1
    ), pre AS (
        SELECT *, CAST(sum(sy) OVER w AS BIGINT) AS cy,
               CAST(sum(n) OVER w AS BIGINT) AS cn
        FROM per WINDOW w AS (ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), ivals AS (
        SELECT lo.bin AS jb, hi.bin AS kb,
               CAST(hi.cy - (lo.cy - lo.sy) AS DOUBLE)
                   / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS mean
        FROM pre lo, pre hi WHERE lo.bin <= hi.bin
    ), inner_m AS (
        SELECT b.bin AS ib, i.jb, min(i.mean) AS mn
        FROM per b JOIN ivals i
          ON i.jb <= b.bin AND i.kb >= b.bin
        GROUP BY 1, 2
    ), fitted AS (
        SELECT ib, CAST(round((max(mn)) * 1000000.0 + 1e-9, 0) AS BIGINT) AS iso_acc_e6 FROM inner_m GROUP BY ib
    ), rws AS (
        SELECT per.*, f.iso_acc_e6,
               CASE WHEN (sp) >= 0 THEN ((sp) * 1) // (n) ELSE -((-(sp) * 1) // (n)) END AS conf_e6,
               CASE WHEN (sy * 1000000) >= 0 THEN ((sy * 1000000) * 1) // (n) ELSE -((-(sy * 1000000) * 1) // (n)) END AS acc_e6
        FROM per JOIN fitted f ON per.bin = f.ib
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(abs(sy * 1000000 - sp)) AS BIGINT) AS raw_gap,
               CAST(sum(abs(sy * 1000000 - iso_acc_e6 * n))
                   AS BIGINT) AS iso_gap
        FROM rws
    )
    SELECT CAST(bin AS INT) AS bin, n AS n_rows,
           CAST(conf_e6 AS BIGINT) AS conf_e6,
           CAST(acc_e6 AS BIGINT) AS acc_e6,
           CAST(iso_acc_e6 AS BIGINT) AS iso_acc_e6,
           CAST(CASE WHEN (raw_gap) >= 0 THEN ((raw_gap) * 1) // (nt) ELSE -((-(raw_gap) * 1) // (nt)) END AS BIGINT) AS ece_raw_e6,
           CAST(CASE WHEN (iso_gap) >= 0 THEN ((iso_gap) * 1) // (nt) ELSE -((-(iso_gap) * 1) // (nt)) END AS BIGINT) AS ece_iso_e6
    FROM rws CROSS JOIN tot ORDER BY bin
"""


ORACLES_EXT["events_dau_mau_stickiness"] = """
    WITH base AS (
        SELECT user_id AS u, CAST(ts AS DATE) AS day,
               strftime(ts, '%Y-%m') AS month
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), dau AS (
        SELECT month, day,
               CAST(count(DISTINCT u) AS BIGINT) AS dau
        FROM base GROUP BY month, day
    ), per_m AS (
        SELECT month, CAST(count(*) AS BIGINT) AS n_days_observed,
               CAST(sum(dau) AS BIGINT) AS total_dau
        FROM dau GROUP BY month
    ), mau AS (
        SELECT month, CAST(count(DISTINCT u) AS BIGINT) AS mau
        FROM base GROUP BY month
    )
    SELECT month, n_days_observed, total_dau,
           CAST(CASE WHEN (total_dau) >= 0 THEN ((total_dau) * 100) // (n_days_observed) ELSE -((-(total_dau) * 100) // (n_days_observed)) END AS BIGINT) AS avg_dau_e2,
           mau,
           CAST(CASE WHEN mau > 0 THEN CASE WHEN (total_dau) >= 0 THEN ((total_dau) * 1000000) // (n_days_observed * mau) ELSE -((-(total_dau) * 1000000) // (n_days_observed * mau)) END END AS BIGINT)
               AS stickiness_e6
    FROM per_m JOIN mau USING (month) ORDER BY month
"""


def _hll_oracle() -> str:
    """HLL twin: rebuilds the IDENTICAL 64 registers (same md5 bits,
    same CASE-chain rho from heavy_hitters.hll_rho_sql), the same
    one-division raw estimate, and the same portable-ln linear-counting
    branch — every literal imported from the operator module so the two
    engines cannot drift."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
        sdiv_scaled_sql,
    )
    from firebase_etl_spark.operators.heavy_hitters import (
        HLL_EST_NUM,
        HLL_M,
        HLL_REG_BITS,
        HLL_RHO_MAX,
        HLL_SMALL_RANGE,
        hll_rho_sql,
    )

    rho = hll_rho_sql(f"(h % {1 << HLL_REG_BITS})")
    chain = ln_select_sql(
        "SELECT * FROM base2",
        [
            (str(HLL_M), "__ln_m"),
            ("CASE WHEN v_empty > 0 THEN v_empty ELSE 1 END", "__ln_v"),
        ],
    )
    lin_e6 = fixed_e6_expr("__ln_m - __ln_v")
    err = sdiv_scaled_sql(
        "abs(est_distinct - n_exact)", "n_exact", 1000000, "//"
    )
    return f"""
    WITH d AS MATERIALIZED (
        SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS u
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ), hashed AS (
        SELECT g, ('0x' || substr(md5('hll|' || u), 1, 13))::BIGINT AS h
        FROM d
    ), br AS (
        SELECT g, h // {1 << (52 - 6)} AS b, {rho} AS rho FROM hashed
    ), regs AS (
        SELECT g, b, max(rho) AS m_b FROM br GROUP BY g, b
    ), per_g AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_present,
               CAST(sum(CAST(1 AS BIGINT) << ({HLL_RHO_MAX} - m_b))
                   AS BIGINT) AS s_present
        FROM regs GROUP BY g
    ), exact AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_exact FROM d GROUP BY g
    ), base AS (
        SELECT per_g.g AS g, n_exact,
               CAST({HLL_M} - n_present AS BIGINT) AS v_empty,
               CAST(s_present
                    + ({HLL_M} - n_present) * {1 << HLL_RHO_MAX}
                   AS BIGINT) AS inv_power_sum
        FROM per_g JOIN exact ON per_g.g = exact.g
    ), base2 AS (
        SELECT *, CAST({HLL_EST_NUM} AS BIGINT)
                  // (1000000 * inv_power_sum) AS est_raw
        FROM base
    ), est AS (
        SELECT g, n_exact, v_empty, inv_power_sum, est_raw,
               CASE WHEN est_raw <= {HLL_SMALL_RANGE} AND v_empty > 0
                    THEN (CAST({HLL_M} AS BIGINT) * ({lin_e6}))
                         // 1000000
                    ELSE est_raw END AS est_distinct
        FROM ({chain})
    )
    SELECT g, n_exact, v_empty, inv_power_sum, est_raw, est_distinct,
           CASE WHEN n_exact > 0 THEN {err} END AS err_e6
    FROM est
    ORDER BY g
"""


ORACLES_EXT["events_hll_distinct_users"] = _hll_oracle()


def _stream_hll_oracle() -> str:
    """Streaming-HLL twin: registers are element-wise maxima — a pure
    function of the input SET — so the batch replay (same md5 bits,
    same rho chain, same estimator literals) bit-equals the stream's
    final emission; n_seen is the plain filtered row count."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )
    from firebase_etl_spark.operators.heavy_hitters import (
        HLL_EST_NUM,
        HLL_M,
        HLL_REG_BITS,
        HLL_RHO_MAX,
        HLL_SMALL_RANGE,
        hll_rho_sql,
    )

    rho = hll_rho_sql(f"(h % {1 << HLL_REG_BITS})")
    chain = ln_select_sql(
        "SELECT * FROM base2",
        [
            (str(HLL_M), "__ln_m"),
            ("CASE WHEN v_empty > 0 THEN v_empty ELSE 1 END", "__ln_v"),
        ],
    )
    lin_e6 = fixed_e6_expr("__ln_m - __ln_v")
    return f"""
    WITH src AS MATERIALIZED (
        SELECT event_type AS g, CAST(user_id AS VARCHAR) AS u
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ), seen AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_seen FROM src GROUP BY g
    ), hashed AS (
        SELECT DISTINCT g,
               ('0x' || substr(md5('hll|' || u), 1, 13))::BIGINT AS h
        FROM src
    ), br AS (
        SELECT g, h // {1 << (52 - 6)} AS b, {rho} AS rho FROM hashed
    ), regs AS (
        SELECT g, b, max(rho) AS m_b FROM br GROUP BY g, b
    ), per_g AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_present,
               CAST(sum(CAST(1 AS BIGINT) << ({HLL_RHO_MAX} - m_b))
                   AS BIGINT) AS s_present
        FROM regs GROUP BY g
    ), base AS (
        SELECT per_g.g AS g, n_seen,
               CAST({HLL_M} - n_present AS BIGINT) AS v_empty,
               CAST(s_present
                    + ({HLL_M} - n_present) * {1 << HLL_RHO_MAX}
                   AS BIGINT) AS inv_power_sum
        FROM per_g JOIN seen ON per_g.g = seen.g
    ), base2 AS (
        SELECT *, CAST({HLL_EST_NUM} AS BIGINT)
                  // (1000000 * inv_power_sum) AS est_raw
        FROM base
    )
    SELECT g, n_seen, v_empty, inv_power_sum, est_raw,
           CASE WHEN est_raw <= {HLL_SMALL_RANGE} AND v_empty > 0
                THEN (CAST({HLL_M} AS BIGINT) * ({lin_e6})) // 1000000
                ELSE est_raw END AS est_distinct
    FROM ({chain})
    ORDER BY g
"""


ORACLES_EXT["stream_hll_distinct_users"] = _stream_hll_oracle()


ORACLES_EXT["part_association_rules"] = """
    WITH b AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), nb AS (
        SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM b
    ), thr AS (
        -- fractional support floor mirroring the engine: GREATEST(
        -- min_support, n_baskets * support_ppm DIV 1e6) at 100 ppm
        SELECT GREATEST(CAST(2 AS BIGINT),
                        (n_baskets * 100) // 1000000) AS thr FROM nb
    ), ic AS MATERIALIZED (
        SELECT it, CAST(count(*) AS BIGINT) AS ic FROM b GROUP BY it
    ), freq AS MATERIALIZED (
        SELECT it, ic FROM ic WHERE ic >= (SELECT thr FROM thr)
    ), bf AS MATERIALIZED (
        SELECT b.bk, b.it FROM b JOIN freq ON b.it = freq.it
    ), pairs AS MATERIALIZED (
        SELECT a.it AS p1, z.it AS p2, CAST(count(*) AS BIGINT) AS pc
        FROM bf a JOIN bf z ON a.bk = z.bk AND a.it < z.it
        GROUP BY 1, 2
        HAVING count(*) >= (SELECT thr FROM thr)
    ), sided AS (
        SELECT p1, p2, pc, f1.ic AS c1, f2.ic AS c2, nb.n_baskets
        FROM pairs
        JOIN freq f1 ON f1.it = p1
        JOIN freq f2 ON f2.it = p2
        CROSS JOIN nb
    ), rules AS (
        SELECT p1 AS antecedent, p2 AS consequent, pc AS pair_count,
               c1 AS n_antecedent, c2 AS n_consequent, n_baskets
        FROM sided
        UNION ALL
        SELECT p2, p1, pc, c2, c1, n_baskets FROM sided
    )
    SELECT antecedent, consequent, pair_count, n_antecedent,
           n_consequent, n_baskets,
           (pair_count * 1000000) // n_antecedent AS confidence_e6,
           (pair_count * n_baskets * 1000000)
               // (n_antecedent * n_consequent) AS lift_e6
    FROM rules
    WHERE (pair_count * 1000000) // n_antecedent >= 100000
    ORDER BY confidence_e6 DESC, antecedent, consequent
    LIMIT 30
"""


def _srm_oracle() -> str:
    from firebase_etl_spark.operators.stats import SRM_CHI2_CRIT_E6

    return f"""
    WITH d AS (
        SELECT DISTINCT event_type AS g, CAST(user_id AS BIGINT) AS u
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ), agg AS (
        SELECT g,
               CAST(sum(CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_arm0,
               CAST(sum(CASE WHEN u % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_arm1
        FROM d GROUP BY g
    ), s AS (
        SELECT g AS group_key, n_arm0, n_arm1,
               n_arm0 + n_arm1 AS n_units,
               CASE WHEN n_arm0 + n_arm1 > 0 THEN
                    ((n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000)
                    // (n_arm0 + n_arm1) ELSE 0 END AS chi2_e6
        FROM agg
    )
    SELECT group_key, n_arm0, n_arm1, n_units, chi2_e6,
           chi2_e6 > {SRM_CHI2_CRIT_E6} AS srm_detected
    FROM s ORDER BY group_key
"""


ORACLES_EXT["events_srm_check"] = _srm_oracle()


def _hard_negatives_oracle() -> str:
    """Hard-negatives twin: nests the k=50 BM25 oracle as the candidate
    pool, labels candidates with the same graded-Jaccard CASE, keeps
    the candidates below doc_hard_negatives' fixture-measured
    rel_threshold=4 (rel < 4; the token-set-homogeneous corpus forces
    the high threshold) in retriever
    order."""
    return rf"""
    WITH bm AS ({_bm25_oracle(k=50)}),
    tsets AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(lower(trim(text)),
                                                   '\s+')) AS toks
        FROM documents),
    probes AS (
        SELECT doc_id AS query_id, toks AS q_toks FROM tsets
        WHERE doc_id IN (0, 1, 2, 3, 4)),
    cand AS (
        SELECT bm.query_id, bm.doc_id, bm.rank, bm.score,
               CASE WHEN j >= 0.75 THEN 4 WHEN j >= 0.5 THEN 3
                    WHEN j >= 0.25 THEN 2 WHEN j >= 0.1 THEN 1
                    ELSE 0 END AS rel
        FROM (
            SELECT bm.query_id, bm.doc_id, bm.rank, bm.score,
                   round(len(list_intersect(t.toks, p.q_toks)) * 1.0
                         / len(list_distinct(
                               list_concat(t.toks, p.q_toks))), 6) AS j
            FROM bm
            JOIN tsets t ON t.doc_id = bm.doc_id
            JOIN probes p ON p.query_id = bm.query_id) bm),
    neg AS (
        SELECT query_id, doc_id, rank AS bm25_rank, score, rel,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY rank
               ) AS neg_rank
        FROM cand WHERE rel < 4)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(bm25_rank AS BIGINT) AS bm25_rank,
           score,
           CAST(rel AS INTEGER) AS rel,
           CAST(neg_rank AS BIGINT) AS neg_rank
    FROM neg WHERE neg_rank <= 5
    ORDER BY query_id, neg_rank
"""


ORACLES_EXT["doc_hard_negatives"] = _hard_negatives_oracle()


ORACLES_EXT["events_cusum_alarms"] = """
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY day) AS i, day, n FROM (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE ts IS NOT NULL GROUP BY 1)),
    params AS MATERIALIZED (
        SELECT CAST(sum(n) AS BIGINT) // 7 AS mu0
        FROM daily WHERE i <= 7),
    rec AS (
        SELECT d.i, d.day, d.n,
               GREATEST(CAST(0 AS BIGINT),
                        d.n - p.mu0 - p.mu0 // 20) AS s_pos,
               GREATEST(CAST(0 AS BIGINT),
                        p.mu0 - d.n - p.mu0 // 20) AS s_neg
        FROM daily d, params p WHERE d.i = 8
        UNION ALL
        SELECT d.i, d.day, d.n,
               GREATEST(CAST(0 AS BIGINT),
                        r.s_pos + (d.n - p.mu0 - p.mu0 // 20)),
               GREATEST(CAST(0 AS BIGINT),
                        r.s_neg + (p.mu0 - d.n - p.mu0 // 20))
        FROM rec r
        JOIN daily d ON d.i = r.i + 1
        CROSS JOIN params p)
    SELECT r.day, r.n AS n_events, p.mu0, r.s_pos, r.s_neg,
           r.s_pos > p.mu0 // 2 AS alarm_up,
           r.s_neg > p.mu0 // 2 AS alarm_down
    FROM rec r CROSS JOIN params p
    ORDER BY r.day
"""


def _rp_distortion_oracle() -> str:
    """JL-distortion twin: same md5 content-addressed sample, the same
    seed-13 plane literals (emitted from the SAME rp_planes call), the
    same left-to-right inner products and e6 quantization."""
    from firebase_etl_spark.functions.portable_math import fixed_e6_expr
    from firebase_etl_spark.operators.similarity import rp_planes

    planes = rp_planes(out_dim=32, in_dim=64, seed=13)
    proj_cols = ",\n                  ".join(
        "list_inner_product(nv, [%s])" % ", ".join(repr(x) for x in row)
        for row in planes
    )
    co = fixed_e6_expr("list_inner_product(a.nv, b.nv)")
    cp = fixed_e6_expr("list_inner_product(a.p, b.p)")
    return f"""
    WITH keyed AS MATERIALIZED (
        SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE embedding IS NOT NULL
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vectors_total FROM keyed
    ), sample AS MATERIALIZED (
        SELECT vid, e FROM keyed
        ORDER BY md5('rpda|' || CAST(vid AS VARCHAR)), vid LIMIT 64
    ), nv_t AS MATERIALIZED (
        SELECT vid,
               list_transform(e, x -> x / sqrt(list_inner_product(e, e)))
                   AS nv
        FROM sample
    ), side AS MATERIALIZED (
        SELECT vid, nv, [{proj_cols}] AS p FROM nv_t
    ), scored AS (
        SELECT {co} AS cos_orig_e6, {cp} AS cos_rp_e6
        FROM side a JOIN side b ON a.vid < b.vid
    ), d AS (
        SELECT cos_rp_e6 - cos_orig_e6 AS delta_e6 FROM scored
    )
    SELECT CAST(least(4, abs(delta_e6) // 50000) AS INTEGER) AS band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(delta_e6) AS BIGINT) AS min_delta_e6,
           CAST(max(delta_e6) AS BIGINT) AS max_delta_e6,
           tot.n_vectors_total,
           CAST((SELECT count(*) FROM sample) AS BIGINT)
               AS n_vectors_sampled
    FROM d CROSS JOIN tot
    GROUP BY 1, tot.n_vectors_total
    ORDER BY band
"""


ORACLES_EXT["embedding_rp_distortion_audit"] = _rp_distortion_oracle()


def _textrank_oracle(n_iter: int = 10, damping_pct: int = 85) -> str:
    """TextRank twin: the nation-pagerank unrolled-Jacobi layers
    (bit-exact fixed-point BIGINT trajectory) over the word-adjacency
    edge CTE instead of the trade graph."""
    layers = [
        r"""toks AS MATERIALIZED (
        SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ),
    adj AS MATERIALIZED (
        SELECT tk[i] AS a, tk[i + 1] AS b
        FROM toks, unnest(range(1, len(tk))) AS t(i)
    ),
    edges AS MATERIALIZED (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
            SELECT a AS src, b AS dst FROM adj
            UNION ALL
            SELECT b AS src, a AS dst FROM adj
        ) GROUP BY 1, 2
    ),
    ew AS MATERIALIZED (
        SELECT e.src, e.dst, e.w, t.w_out
        FROM edges e
        JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS w_out
              FROM edges GROUP BY src) t USING (src)
    ),
    nodes AS MATERIALIZED (
        SELECT src AS node FROM edges
        UNION
        SELECT dst AS node FROM edges
    ),
    const AS (
        SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r0,
               CAST((1000000000000 // count(*)) * %d // 100 AS BIGINT)
                   AS tp
        FROM nodes
    ),
    pr0 AS (SELECT node, (SELECT r0 FROM const) AS rank FROM nodes)"""
        % (100 - damping_pct)
    ]
    for i in range(n_iter):
        layers.append(
            f"""pr{i + 1} AS MATERIALIZED (
        SELECT n.node,
               (SELECT tp FROM const)
                   + CAST({damping_pct} * coalesce(s.incoming, 0) // 100
                       AS BIGINT) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst,
                   CAST(sum(p.rank * e.w // e.w_out) AS BIGINT)
                       AS incoming
            FROM pr{i} p JOIN ew e ON p.node = e.src
            GROUP BY e.dst
        ) s ON n.node = s.dst
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(layers)
        + f"""
    SELECT p.node AS term, CAST(p.rank AS BIGINT) AS rank_e12
    FROM pr{n_iter} p
    ORDER BY rank_e12 DESC, term
    LIMIT 15"""
    )


ORACLES_EXT["doc_textrank_keywords"] = _textrank_oracle()


ORACLES_EXT["orders_simpson_audit"] = """
    WITH base AS (
        SELECT c_mktsegment AS s,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS arm,
               CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IS NOT NULL AND o_totalprice IS NOT NULL
    ), per AS (
        SELECT s,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(coalesce(sum(CASE WHEN arm = 1 THEN v END), 0)
                   AS BIGINT) AS sum_a,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(coalesce(sum(CASE WHEN arm = 0 THEN v END), 0)
                   AS BIGINT) AS sum_b
        FROM base GROUP BY s
    ), tot AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS tn_a,
               CAST(sum(sum_a) AS BIGINT) AS ts_a,
               CAST(sum(n_b) AS BIGINT) AS tn_b,
               CAST(sum(sum_b) AS BIGINT) AS ts_b
        FROM per
    )
    SELECT s AS stratum, n_a, n_b,
           CASE WHEN n_a > 0 THEN sum_a // n_a END AS mean_a_cents,
           CASE WHEN n_b > 0 THEN sum_b // n_b END AS mean_b_cents,
           CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN
                CASE WHEN (sum_a // n_a) > (sum_b // n_b) THEN 1 WHEN (sum_a // n_a) < (sum_b // n_b) THEN -1 WHEN (sum_a % n_a) * n_b > (sum_b % n_b) * n_a THEN 1 WHEN (sum_a % n_a) * n_b < (sum_b % n_b) * n_a THEN -1 ELSE 0 END
                END AS INTEGER) AS sign_stratum,
           CAST(CASE WHEN (ts_a // tn_a) > (ts_b // tn_b) THEN 1 WHEN (ts_a // tn_a) < (ts_b // tn_b) THEN -1 WHEN (ts_a % tn_a) * tn_b > (ts_b % tn_b) * tn_a THEN 1 WHEN (ts_a % tn_a) * tn_b < (ts_b % tn_b) * tn_a THEN -1 ELSE 0 END AS INTEGER) AS sign_overall,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
                (CASE WHEN (sum_a // n_a) > (sum_b // n_b) THEN 1 WHEN (sum_a // n_a) < (sum_b // n_b) THEN -1 WHEN (sum_a % n_a) * n_b > (sum_b % n_b) * n_a THEN 1 WHEN (sum_a % n_a) * n_b < (sum_b % n_b) * n_a THEN -1 ELSE 0 END)
                * (CASE WHEN (ts_a // tn_a) > (ts_b // tn_b) THEN 1 WHEN (ts_a // tn_a) < (ts_b // tn_b) THEN -1 WHEN (ts_a % tn_a) * tn_b > (ts_b % tn_b) * tn_a THEN 1 WHEN (ts_a % tn_a) * tn_b < (ts_b % tn_b) * tn_a THEN -1 ELSE 0 END) < 0
                ELSE FALSE END AS reversed
    FROM per CROSS JOIN tot
    ORDER BY stratum
"""


def _cmh_oracle() -> str:
    from firebase_etl_spark.operators.stats import SRM_CHI2_CRIT_E6

    e_e3 = (
        "CAST(round((CAST(n1 AS DOUBLE) * CAST(m1 AS DOUBLE)"
        " / CAST(n AS DOUBLE)) * 1000.0 + 1e-9, 0) AS BIGINT)"
    )
    v_e3 = (
        "CAST(round((CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)"
        " * CAST(m1 AS DOUBLE) * CAST(n - m1 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        " * CAST(n - 1 AS DOUBLE))) * 1000.0 + 1e-9, 0) AS BIGINT)"
    )
    cmh = (
        "CASE WHEN sum_v <= 0 THEN 0"
        " WHEN abs(sum_d) < 3000000"
        " THEN (1000 * sum_d * sum_d) // sum_v"
        " ELSE ((sum_d // 1000) * (sum_d // 1000) // sum_v)"
        " * 1000000000"
        " + (((sum_d // 1000) * (sum_d // 1000) % sum_v)"
        " * 1000000000) // sum_v END"
    )
    return f"""
    WITH base AS (
        SELECT c_mktsegment AS s,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS arm,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS out
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IS NOT NULL
    ), per AS MATERIALIZED (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(arm) AS BIGINT) AS n1,
               CAST(sum(out) AS BIGINT) AS m1,
               CAST(sum(arm * out) AS BIGINT) AS a
        FROM base GROUP BY s HAVING count(*) > 1
    ), scored AS MATERIALIZED (
        SELECT s AS stratum, n, n1 AS n_arm1, m1 AS n_out1,
               a AS a_count, {e_e3} AS e_e3, {v_e3} AS v_e3,
               a * 1000 - {e_e3} AS d_e3
        FROM per
    ), tot AS (
        SELECT CAST(sum(d_e3) AS BIGINT) AS sum_d,
               CAST(sum(v_e3) AS BIGINT) AS sum_v
        FROM scored
    )
    SELECT stratum, n, n_arm1, n_out1, a_count, e_e3, v_e3, d_e3,
           CAST({cmh} AS BIGINT) AS cmh_e6,
           CAST({cmh} AS BIGINT) > {SRM_CHI2_CRIT_E6} AS significant
    FROM scored CROSS JOIN tot
    ORDER BY stratum
"""


ORACLES_EXT["orders_cmh_test"] = _cmh_oracle()


def _kruskal_wallis_oracle() -> str:
    from firebase_etl_spark.operators.stats import KW_CHI2_CRIT_E6

    crit_case = "CASE " + " ".join(
        f"WHEN p.n_groups - 1 = {d} THEN {c}"
        for d, c in sorted(KW_CHI2_CRIT_E6.items())
    ) + " ELSE NULL END"
    return f"""
    WITH base AS MATERIALIZED (
        SELECT event_type AS g,
               CAST(round(value * 100.0, 0) AS BIGINT) AS s
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), hist AS MATERIALIZED (
        SELECT s, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY s
    ), cums AS MATERIALIZED (
        -- strictly-smaller prefix as an ordered window (single-node
        -- DuckDB; the AUC-oracle form) — the old O(n^2) theta
        -- self-join spent ~10^8 predicate evaluations on a ~10k-row
        -- cents histogram for the identical exact integers
        SELECT s, t,
               CAST(coalesce(sum(t) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cum_before
        FROM hist
    ), ghist AS (
        SELECT g, s, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY g, s
    ), per_g AS MATERIALIZED (
        SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
               CAST(sum(c * (2 * cum_before + t + 1)) AS BIGINT) AS r2
        FROM ghist JOIN cums USING (s) GROUP BY g
    ), tot AS MATERIALIZED (
        SELECT (SELECT CAST(sum(n_g) AS BIGINT) FROM per_g) AS nn,
               (SELECT CAST(count(*) AS BIGINT) FROM per_g) AS k,
               (SELECT CAST(sum(t * t * t - t) AS BIGINT) FROM cums)
                   AS tie_t
    ), scored AS MATERIALIZED (
        SELECT g AS group_key, n_g AS n_rows, r2 AS r2_sum,
               r2 - n_g * (nn + 1) AS q, n_g, nn, k, tie_t,
               CASE WHEN abs(r2 - n_g * (nn + 1)) < 3000000000
                    THEN ((r2 - n_g * (nn + 1))
                          * (r2 - n_g * (nn + 1))) // n_g
                    ELSE (((r2 - n_g * (nn + 1)) // 1024)
                          * ((r2 - n_g * (nn + 1)) // 1024) // n_g)
                         * 1048576
                       + ((((r2 - n_g * (nn + 1)) // 1024)
                          * ((r2 - n_g * (nn + 1)) // 1024) % n_g)
                          * 1048576) // n_g
               END AS w
        FROM per_g CROSS JOIN tot
    ), sums AS MATERIALIZED (
        SELECT nn, k, tie_t, CAST(sum(w) AS BIGINT) AS sw
        FROM scored GROUP BY nn, k, tie_t
    ), pooled AS MATERIALIZED (
        SELECT nn AS n_total, k AS n_groups, tie_t, h_e6, c_e9,
               CASE WHEN c_e9 <= 0 THEN CAST(NULL AS BIGINT)
                    ELSE (h_e6 // c_e9) * 1000000000
                       + ((h_e6 % c_e9) * 1000000000) // c_e9
               END AS hc_e6
        FROM (
            SELECT nn, k, tie_t,
                   CAST((sw // (nn * (nn + 1))) * 3000000
                        + ((sw % (nn * (nn + 1))) * 3000000)
                          // (nn * (nn + 1)) AS BIGINT) AS h_e6,
                   CAST(CASE WHEN nn * nn * nn - nn <= 0 THEN 1000000000
                        WHEN tie_t < 9000000000
                        THEN 1000000000 - (tie_t * 1000000000)
                             // (nn * nn * nn - nn)
                        ELSE 1000000000
                             - ((tie_t // 1048576) * 1000000000)
                               // ((nn * nn * nn - nn) // 1048576)
                        END AS BIGINT) AS c_e9
            FROM sums)
    )
    SELECT s.group_key, s.n_rows, s.r2_sum, s.q,
           p.n_total, p.n_groups, p.tie_t, p.h_e6, p.c_e9, p.hc_e6,
           p.hc_e6 > ({crit_case}) AS significant
    FROM scored s CROSS JOIN pooled p
    ORDER BY s.group_key
"""


ORACLES_EXT["events_kruskal_wallis"] = _kruskal_wallis_oracle()


# --- round-10 oracles: rank-algebra completions + corpus richness ---------


def _spearman_oracle() -> str:
    """Spearman twin: mirrors the histogram -> prefix-sum ->
    twice-average-rank construction (DuckDB runs the prefix as an
    ordered window — single-node, so the engine-side global-window ban
    does not apply) and evaluates the IDENTICAL rho expression
    (stats.spearman_rho_sql) over the same exact integer moments."""
    from firebase_etl_spark.operators.stats import spearman_rho_sql

    return f"""
    WITH base AS MATERIALIZED (
        SELECT CAST(n_chars AS BIGINT) AS x,
               CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS BIGINT) AS y
        FROM documents
        WHERE text IS NOT NULL AND n_chars IS NOT NULL
    ), hx AS (
        SELECT x, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY x
    ), rx AS MATERIALIZED (
        SELECT x,
               2 * sum(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) - t + 1 AS rx2
        FROM hx
    ), hy AS (
        SELECT y, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY y
    ), ry AS MATERIALIZED (
        SELECT y,
               2 * sum(t) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) - t + 1 AS ry2
        FROM hy
    ), joint AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY x, y
    ), m AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * rx2) AS BIGINT) AS sx,
               CAST(sum(c * ry2) AS BIGINT) AS sy,
               CAST(sum(c * rx2 * rx2) AS BIGINT) AS sxx,
               CAST(sum(c * ry2 * ry2) AS BIGINT) AS syy,
               CAST(sum(c * rx2 * ry2) AS BIGINT) AS sxy
        FROM joint JOIN rx USING (x) JOIN ry USING (y)
    )
    SELECT n AS n_rows, sxy AS sum_rxy2,
           CAST(({spearman_rho_sql()}) AS BIGINT) AS rho_e6
    FROM m
"""


ORACLES_EXT["doc_length_spearman"] = _spearman_oracle()


def _kendall_oracle() -> str:
    """Kendall tau-b twin over the bounded joint contingency histogram
    — same cell lattice, same DOUBLED tie margins, identical tau
    expression (stats.kendall_tau_sql)."""
    from firebase_etl_spark.operators.stats import kendall_tau_sql

    return f"""
    WITH base AS MATERIALIZED (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_discount * 100.0, 0) AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    ), cells AS MATERIALIZED (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY x, y
    ), lat AS (
        SELECT w.x, w.y, w.c,
               CAST(coalesce(sum(CASE WHEN v.y < w.y THEN v.c END), 0)
                   AS BIGINT) AS pc,
               CAST(coalesce(sum(CASE WHEN v.y > w.y THEN v.c END), 0)
                   AS BIGINT) AS pd
        FROM cells w LEFT JOIN cells v ON v.x < w.x
        GROUP BY w.x, w.y, w.c
    ), cd AS (
        SELECT CAST(sum(c * pc) AS BIGINT) AS conc,
               CAST(sum(c * pd) AS BIGINT) AS disc
        FROM lat
    ), margins AS (
        SELECT (SELECT CAST(sum(c) AS BIGINT) FROM cells) AS n,
               (SELECT CAST(sum(t * (t - 1)) AS BIGINT) FROM (
                    SELECT CAST(sum(c) AS BIGINT) AS t FROM cells
                    GROUP BY x)) AS n1d,
               (SELECT CAST(sum(t * (t - 1)) AS BIGINT) FROM (
                    SELECT CAST(sum(c) AS BIGINT) AS t FROM cells
                    GROUP BY y)) AS n2d
    )
    SELECT n AS n_rows, conc AS concordant, disc AS discordant,
           CAST(({kendall_tau_sql()}) AS BIGINT) AS tau_b_e6
    FROM cd CROSS JOIN margins
"""


ORACLES_EXT["lineitem_kendall_tau"] = _kendall_oracle()


def _wilcoxon_oracle() -> str:
    """Wilcoxon signed-rank twin: per-user early/late split on the
    integer-microsecond midpoint (epoch_us mirrors unix_micros), the
    |d| histogram prefix as an ordered window, identical z expression
    (stats.wilcoxon_z_sql)."""
    from firebase_etl_spark.operators.stats import wilcoxon_z_sql

    z = wilcoxon_z_sql()
    return f"""
    WITH span AS (
        SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
                + CAST(max(epoch_us(ts)) AS BIGINT)) // 2 AS mid
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), per_user AS (
        SELECT CAST(sum(CASE WHEN epoch_us(ts) > mid THEN 1 ELSE 0 END)
                   AS BIGINT)
               - CAST(sum(CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0
                          END) AS BIGINT) AS d
        FROM events CROSS JOIN span
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id
    ), h AS (
        SELECT abs(d) AS a, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tp
        FROM per_user WHERE d != 0 GROUP BY abs(d)
    ), r AS MATERIALIZED (
        SELECT a, t, tp,
               2 * sum(t) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) - t + 1 AS r2
        FROM h
    ), agg AS (
        SELECT CAST(sum(t) AS BIGINT) AS n,
               CAST(sum(tp * r2) AS BIGINT) AS w2p,
               CAST(sum((t - tp) * r2) AS BIGINT) AS w2m,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie_t
        FROM r
    )
    SELECT n AS n_nonzero, w2p AS w2_plus, w2m AS w2_minus, tie_t,
           CAST(({z}) AS BIGINT) AS z_e6,
           CASE WHEN ({z}) IS NULL THEN NULL
                ELSE abs(({z})) > 1959964 END AS significant
    FROM agg
"""


ORACLES_EXT["events_wilcoxon_signed_rank"] = _wilcoxon_oracle()


def _brown_forsythe_oracle() -> str:
    """Brown-Forsythe twin: 2*quantile_cont(0.5) is the same exact
    half-integer double as Spark's interpolated percentile (every IEEE
    op in the f=0.5 interpolation is exact for int64 inputs < 2^52),
    the Sz^2/n floors use the same quotient-remainder split, and the
    F chain is the same gated integer split with // for DIV (all
    operands non-negative, where the two semantics agree)."""
    from firebase_etl_spark.operators.stats import KW_CHI2_CRIT_E6

    crit_case = "CASE " + " ".join(
        f"WHEN k - 1 = {d} THEN {c}"
        for d, c in sorted(KW_CHI2_CRIT_E6.items())
    ) + " ELSE NULL END"
    ratio = (
        "CASE WHEN ssw < 9000000000000"
        " THEN (ssb // ssw) * 1000000 + ((ssb % ssw) * 1000000) // ssw"
        " ELSE ((ssb // 1048576) * 1000000) // (ssw // 1048576) END"
    )
    return f"""
    WITH base AS MATERIALIZED (
        SELECT event_type AS g,
               CAST(round(value * 100.0, 0) AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), med AS MATERIALIZED (
        SELECT g, CAST(2 * quantile_cont(v, 0.5) AS BIGINT) AS m2
        FROM base GROUP BY g
    ), z AS (
        SELECT base.g, m2, abs(2 * v - m2) AS z
        FROM base JOIN med USING (g)
    ), per_g AS MATERIALIZED (
        SELECT g, m2, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(z * z) AS BIGINT) AS szz
        FROM z GROUP BY g, m2
    ), per_g2 AS MATERIALIZED (
        SELECT *, (sz // n_g) * sz + ((sz % n_g) * sz) // n_g AS q
        FROM per_g
    ), tot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS nn,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(sz) AS BIGINT) AS szt,
               CAST(sum(szz) AS BIGINT) AS szzt,
               CAST(sum(q) AS BIGINT) AS qt
        FROM per_g2
    ), ss AS (
        SELECT nn, k,
               GREATEST(qt - ((szt // nn) * szt
                              + ((szt % nn) * szt) // nn), 0) AS ssb,
               szzt - qt AS ssw
        FROM tot
    ), pooled AS (
        SELECT nn AS n_total, k AS n_groups, k,
               CASE WHEN ssw <= 0 OR k < 2 THEN CAST(NULL AS BIGINT)
                    ELSE (({ratio}) * (nn - k)) // (k - 1) END AS f_e6
        FROM ss
    )
    SELECT p.g AS group_key, p.n_g AS n_rows, p.m2,
           p.sz AS z_sum, p.szz AS zz_sum,
           t.n_total, t.n_groups, t.f_e6,
           CASE WHEN t.f_e6 IS NULL THEN NULL
                ELSE t.f_e6 * (t.k - 1) > ({crit_case.replace("k - 1", "t.k - 1")}) END
               AS significant
    FROM per_g2 p CROSS JOIN pooled t
    ORDER BY group_key
"""


ORACLES_EXT["events_brown_forsythe"] = _brown_forsythe_oracle()


def _dispersion_oracle() -> str:
    """Dispersion-index twin: same per-hour counts, same gated integer
    split (operands non-negative: n*SS - S^2 >= 0 exactly), identical
    z expression (stats.dispersion_z_sql)."""
    from firebase_etl_spark.operators.stats import dispersion_z_sql

    dnum = "(n * ss - s * s)"
    dden = "(s * (n - 1))"
    d_e6 = (
        f"CASE WHEN n < 2 OR s <= 0 THEN CAST(NULL AS BIGINT)"
        f" WHEN {dnum} < 9000000000000"
        f" THEN ({dnum} * 1000000) // {dden}"
        f" ELSE (({dnum} // 1024) * 1000000) // ({dden} // 1024) END"
    )
    return f"""
    WITH hourly AS (
        SELECT event_type AS g, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
        GROUP BY g, h
    ), per_g AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s,
               CAST(sum(c * c) AS BIGINT) AS ss
        FROM hourly GROUP BY g
    ), d AS (
        SELECT g, n, s, CAST(({d_e6}) AS BIGINT) AS d_e6
        FROM per_g
    ), dz AS (
        SELECT g, n, s, d_e6,
               CAST(({dispersion_z_sql()}) AS BIGINT) AS z_e6
        FROM d
    )
    SELECT g AS group_key, n AS n_hours, s AS n_events, d_e6, z_e6,
           CASE WHEN z_e6 IS NULL THEN NULL
                ELSE z_e6 > 1644854 END AS overdispersed
    FROM dz
    ORDER BY group_key
"""


ORACLES_EXT["events_dispersion_index"] = _dispersion_oracle()


ORACLES_EXT["doc_vocab_chao1"] = """
    WITH tf AS MATERIALIZED (
        SELECT source AS g,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS term
        FROM documents
        WHERE text IS NOT NULL AND source IS NOT NULL
    ), cnt AS (
        SELECT g, term, CAST(count(*) AS BIGINT) AS c
        FROM tf GROUP BY g, term
    ), agg AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab_size,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f1,
               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f2
        FROM cnt GROUP BY g
    )
    SELECT g AS group_key, n_tokens, vocab_size, f1, f2,
           CAST(CASE WHEN f2 > 0
                THEN vocab_size * 100 + (f1 * f1 * 100) // (2 * f2)
                ELSE vocab_size * 100 + (f1 * (f1 - 1) * 100) // 2
                END AS BIGINT) AS chao1_e2,
           CAST(CASE WHEN vocab_size > 0
                THEN (f1 * 1000000) // vocab_size
                ELSE CAST(NULL AS BIGINT) END AS BIGINT)
               AS hapax_ratio_e6
    FROM agg
    ORDER BY group_key
"""


ORACLES_EXT["documents_ngram_diversity"] = """
    WITH tk AS MATERIALIZED (
        SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+')
                   AS a
        FROM documents
        WHERE text IS NOT NULL AND source IS NOT NULL
    ), uni AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT t) AS BIGINT) AS distinct_tokens
        FROM (SELECT source, unnest(a) AS t FROM tk) GROUP BY source
    ), big AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(count(DISTINCT b) AS BIGINT) AS distinct_bigrams
        FROM (
            SELECT source,
                   unnest(list_transform(range(1, len(a)),
                          i -> a[i] || ' ' || a[i + 1])) AS b
            FROM tk
        ) GROUP BY source
    )
    SELECT uni.source, n_tokens, distinct_tokens,
           CAST((distinct_tokens * 1000000) // n_tokens AS BIGINT)
               AS distinct1_e6,
           CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(distinct_bigrams, 0) AS BIGINT)
               AS distinct_bigrams,
           CAST(CASE WHEN coalesce(n_bigrams, 0) > 0
                THEN (distinct_bigrams * 1000000) // n_bigrams
                ELSE CAST(NULL AS BIGINT) END AS BIGINT) AS distinct2_e6
    FROM uni LEFT JOIN big USING (source)
    ORDER BY source
"""


def _stream_srm_oracle() -> str:
    """Batch replay of the streaming SRM gate's final emission: the
    state is two batching-invariant counters, so one GROUP BY
    reproduces it exactly (event-level arms — the live denominator,
    vs events_srm_check's distinct units)."""
    from firebase_etl_spark.operators.stats import SRM_CHI2_CRIT_E6

    return f"""
    WITH base AS (
        -- CASE = 0 / ELSE 1 mirrors the engine's pmod: negative odd
        -- ids land in arm 1 on both sides
        SELECT event_type AS g,
               CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END AS arm
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ), m AS (
        SELECT g,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_arm0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_arm1,
               CAST(count(*) AS BIGINT) AS n_events
        FROM base GROUP BY g
    )
    SELECT g AS event_type, n_arm0, n_arm1, n_events,
           CAST(CASE WHEN n_arm0 + n_arm1 > 0 THEN
                ((n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000)
                // (n_arm0 + n_arm1) ELSE 0 END AS BIGINT) AS chi2_e6,
           CASE WHEN n_arm0 + n_arm1 > 0 THEN
                ((n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000)
                // (n_arm0 + n_arm1) > {SRM_CHI2_CRIT_E6}
                ELSE false END AS srm_detected
    FROM m ORDER BY event_type
"""


ORACLES_EXT["stream_srm_check"] = _stream_srm_oracle()


def _mcnemar_oracle() -> str:
    """McNemar twin: same per-user paired 0/1 outcomes on the integer
    microsecond midpoint split, same all-integer chi-square (operands
    non-negative, so // == DIV)."""
    from firebase_etl_spark.operators.stats import SRM_CHI2_CRIT_E6

    chi2 = (
        "CASE WHEN b + c = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE ((b - c) * (b - c) * 1000000) // (b + c) END"
    )
    return f"""
    WITH span AS (
        SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
                + CAST(max(epoch_us(ts)) AS BIGINT)) // 2 AS mid
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), per_user AS (
        SELECT user_id,
               CAST(max(CASE WHEN epoch_us(ts) <= mid
                        AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS INT) AS x,
               CAST(max(CASE WHEN epoch_us(ts) > mid
                        AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS INT) AS y
        FROM events CROSS JOIN span
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_both,
               CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_neither,
               CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS b,
               CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c
        FROM per_user
    )
    SELECT n_units, n_both, n_neither,
           b AS n_before_only, c AS n_after_only,
           CAST(({chi2}) AS BIGINT) AS chi2_e6,
           CASE WHEN b + c = 0 THEN NULL
                ELSE ({chi2}) > {SRM_CHI2_CRIT_E6} END AS significant
    FROM agg
"""


ORACLES_EXT["events_mcnemar_purchase"] = _mcnemar_oracle()


def _runs_test_oracle() -> str:
    """Runs-test twin: DuckDB counts the runs in one ordered pass per
    group (single-node — the engine's two-phase segment count is
    order-deterministic, so the totals agree exactly); identical z
    expression (stats.runs_z_sql)."""
    from firebase_etl_spark.operators.stats import runs_z_sql

    z = runs_z_sql()
    return f"""
    WITH base AS MATERIALIZED (
        SELECT event_type AS g,
               CAST(round(value * 100.0, 0) AS BIGINT) AS v,
               epoch_us(ts) AS us, CAST(event_id AS BIGINT) AS eid
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
          AND ts IS NOT NULL
    ), med AS (
        SELECT g, CAST(2 * quantile_cont(v, 0.5) AS BIGINT) AS m2
        FROM base GROUP BY g
    ), signed AS (
        SELECT base.g, us, eid,
               CAST(2 * v > m2 AS INT) AS x
        FROM base JOIN med USING (g)
        WHERE 2 * v != m2
    ), runs AS (
        SELECT g,
               CASE WHEN lag(x) OVER w IS NULL
                         OR lag(x) OVER w != x THEN 1 ELSE 0 END AS chg,
               x
        FROM signed
        WINDOW w AS (PARTITION BY g ORDER BY us, eid)
    ), per_g AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(x) AS BIGINT) AS n1,
               CAST(count(*) - sum(x) AS BIGINT) AS n0,
               CAST(sum(chg) AS BIGINT) AS r
        FROM runs GROUP BY g
    )
    SELECT g AS group_key, n_obs, n1 AS n_pos, n0 AS n_neg,
           r AS n_runs,
           CAST(({z}) AS BIGINT) AS z_e6,
           CASE WHEN ({z}) IS NULL THEN NULL
                ELSE abs(({z})) > 1959964 END AS significant
    FROM per_g
    ORDER BY group_key
"""


ORACLES_EXT["events_runs_test"] = _runs_test_oracle()


def _entropy_rate_oracle() -> str:
    """Entropy-rate twin: zipped-unnest bigrams, the same portable-ln
    step chain (ln_select_sql) over the (bigram, first-token margin)
    grid, identical per-row quantize and truncating final division."""
    from firebase_etl_spark.functions.portable_math import (
        fixed_e6_expr,
        ln_select_sql,
    )

    grid = """
        SELECT cab.g, cab.c, ca.cf
        FROM (
            SELECT g, a, b, CAST(count(*) AS BIGINT) AS c
            FROM (
                SELECT source AS g,
                       unnest(a[1:len(a)-1]) AS a,
                       unnest(a[2:len(a)]) AS b
                FROM (
                    SELECT source,
                           regexp_split_to_array(lower(trim(text)),
                                                 '\\s+') AS a
                    FROM documents
                    WHERE text IS NOT NULL AND source IS NOT NULL
                )
            ) GROUP BY g, a, b
        ) cab
        JOIN (
            SELECT g, a, CAST(count(*) AS BIGINT) AS cf
            FROM (
                SELECT source AS g,
                       unnest(a[1:len(a)-1]) AS a
                FROM (
                    SELECT source,
                           regexp_split_to_array(lower(trim(text)),
                                                 '\\s+') AS a
                    FROM documents
                    WHERE text IS NOT NULL AND source IS NOT NULL
                )
            ) GROUP BY g, a
        ) ca ON cab.g = ca.g AND cab.a = ca.a
    """
    chain = ln_select_sql(grid, [("cf", "__lna"), ("c", "__lnab")])
    term = fixed_e6_expr("c * (__lna - __lnab)")
    return f"""
    WITH terms AS MATERIALIZED (
        SELECT g, c, {term} AS term_e6 FROM ({chain})
    ), per_g AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(term_e6) AS BIGINT) AS s_e6
        FROM terms GROUP BY g
    )
    SELECT g AS group_key, t AS n_bigrams, nd AS n_distinct_bigrams,
           CAST(CASE WHEN t > 0 THEN s_e6 // t
                ELSE CAST(NULL AS BIGINT) END AS BIGINT)
               AS cond_entropy_e6
    FROM per_g
    ORDER BY group_key
"""


ORACLES_EXT["documents_entropy_rate"] = _entropy_rate_oracle()


def _jonckheere_oracle() -> str:
    """JT twin: same histogram -> union-spine per-group prefix (DuckDB
    partitioned window) -> earlier-group join, identical doubled-JT
    integers and z expression (stats.jt_z_sql)."""
    from firebase_etl_spark.operators.stats import jt_z_sql

    z = jt_z_sql()
    return f"""
    WITH base AS MATERIALIZED (
        SELECT CAST(o_orderpriority AS VARCHAR) AS g,
               CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS s
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    ), hist AS MATERIALIZED (
        SELECT g, s, CAST(count(*) AS BIGINT) AS t
        FROM base GROUP BY g, s
    ), grid AS (
        SELECT gr.g, sp.s, CAST(coalesce(h.t, 0) AS BIGINT) AS t
        FROM (SELECT DISTINCT s FROM hist) sp
        CROSS JOIN (SELECT DISTINCT g FROM hist) gr
        LEFT JOIN hist h ON h.g = gr.g AND h.s = sp.s
    ), cum AS MATERIALIZED (
        SELECT g, s, t,
               CAST(coalesce(sum(t) OVER (PARTITION BY g ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cb
        FROM grid
    ), contrib AS (
        SELECT CAST(coalesce(sum(j.t * (2 * i.cb + i.t)), 0) AS BIGINT)
                   AS jt2
        FROM hist j JOIN cum i ON i.s = j.s AND i.g < j.g
    ), gm AS (
        SELECT CAST(sum(ng) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(ng * ng) AS BIGINT) AS s2,
               CAST(sum(ng * (ng - 1) * (2 * ng + 5)) AS BIGINT) AS u1,
               CAST(sum(ng * (ng - 1) * (ng - 2)) AS BIGINT) AS u2,
               CAST(sum(ng * (ng - 1)) AS BIGINT) AS u3
        FROM (SELECT g, CAST(sum(t) AS BIGINT) AS ng
              FROM hist GROUP BY g)
    ), ties AS (
        SELECT CAST(sum(ts * (ts - 1) * (2 * ts + 5)) AS BIGINT) AS v1,
               CAST(sum(ts * (ts - 1) * (ts - 2)) AS BIGINT) AS v2,
               CAST(sum(ts * (ts - 1)) AS BIGINT) AS v3
        FROM (SELECT s, CAST(sum(t) AS BIGINT) AS ts
              FROM hist GROUP BY s)
    )
    SELECT n AS n_total, k AS n_groups, jt2,
           CAST(({z}) AS BIGINT) AS z_e6,
           CASE WHEN ({z}) IS NULL THEN NULL
                ELSE abs(({z})) > 1959964 END AS significant
    FROM contrib CROSS JOIN gm CROSS JOIN ties
"""


ORACLES_EXT["orders_jonckheere_trend"] = _jonckheere_oracle()


def _mann_kendall_oracle() -> str:
    """Mann-Kendall twin: same calendar-day spine, same pair sign sum
    and tie correction, identical z text (stats.mk_z_sql)."""
    from firebase_etl_spark.operators.stats import mk_z_sql

    z = mk_z_sql()
    return f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS t,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS x
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ), s AS (
        SELECT CAST(coalesce(sum(CASE WHEN b.x > a.x THEN 1
                                      WHEN b.x < a.x THEN -1
                                      ELSE 0 END), 0) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b ON a.t < b.t
    ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM daily
    ), tie AS (
        SELECT CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0)
                   AS BIGINT) AS tie_term
        FROM (SELECT CAST(count(*) AS BIGINT) AS tc FROM daily GROUP BY x)
    ), base AS (
        SELECT n AS n_periods, s_stat,
               CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)
                   AS var18
        FROM s, nn, tie
    ), zt AS (
        SELECT n_periods, s_stat, var18,
               CAST(({z}) AS BIGINT) AS z_e6
        FROM base
    )
    SELECT n_periods, s_stat, var18, z_e6,
           CASE WHEN z_e6 IS NULL THEN NULL
                ELSE abs(z_e6) > 1959964 END AS significant
    FROM zt
"""


ORACLES_EXT["orders_mann_kendall"] = _mann_kendall_oracle()


def _theil_sen_oracle() -> str:
    """Theil-Sen twin: same monthly spine, same sign-split e6 slope
    per pair (portable_math.sdiv_scaled_sql), same lower-median rank."""
    from firebase_etl_spark.functions.portable_math import sdiv_scaled_sql

    slope = sdiv_scaled_sql("b.x - a.x", "b.t - a.t", 1_000_000, "//")
    return f"""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
                   AS BIGINT) AS t,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT) // 100) AS BIGINT)
                   AS x
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ), pairs AS (
        SELECT a.t AS ta, b.t AS tb,
               CAST(({slope}) AS BIGINT) AS slope_e6
        FROM monthly a JOIN monthly b ON a.t < b.t
    ), ranked AS (
        SELECT slope_e6,
               CAST(row_number() OVER (ORDER BY slope_e6, ta, tb)
                   AS BIGINT) AS r
        FROM pairs
    ), cnt AS (
        SELECT CAST(count(*) AS BIGINT) AS m FROM pairs
    ), np AS (
        SELECT CAST(count(*) AS BIGINT) AS n_periods FROM monthly
    )
    SELECT n_periods, m AS n_pairs, slope_e6 AS median_slope_e6
    FROM ranked, cnt, np
    WHERE r = (m + 1) // 2
"""


ORACLES_EXT["orders_theil_sen_trend"] = _theil_sen_oracle()


def _gini_oracle() -> str:
    """Gini twin: same whole-dollar per-customer revenue, single-node
    row_number rank, identical remainder-stepped e6 division
    (portable_math.big_e6_div_sql)."""
    from firebase_etl_spark.functions.portable_math import big_e6_div_sql

    g = big_e6_div_sql("2 * s1 - (n + 1) * s", "n * s", "//")
    return f"""
    WITH per_c AS (
        SELECT o_custkey AS k,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT) // 100) AS BIGINT)
                   AS v
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT v, CAST(row_number() OVER (ORDER BY v, k) AS BIGINT) AS r
        FROM per_c WHERE v >= 0
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(r * v) AS BIGINT) AS s1
        FROM ranked
    )
    SELECT n AS n_units, s AS total_value,
           CAST(CASE WHEN n > 0 AND s > 0 THEN {g}
                ELSE NULL END AS BIGINT) AS gini_e6
    FROM agg
"""


ORACLES_EXT["customer_revenue_gini_exact"] = _gini_oracle()


def _friedman_oracle() -> str:
    """Friedman twin: same complete-block filter, same doubled-midrank
    self-join, same pure-integer statistic and shared chi-square
    table (portable_math.chi2_crit_95_e6_sql)."""
    from firebase_etl_spark.functions.portable_math import (
        chi2_crit_95_e6_sql,
    )

    crit = chi2_crit_95_e6_sql("k_treatments - 1")
    return f"""
    WITH cells AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS b,
               event_type AS j, CAST(count(*) AS BIGINT) AS x
        FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    ), ktab AS (
        SELECT CAST(count(DISTINCT j) AS BIGINT) AS k FROM cells
    ), complete AS (
        SELECT b FROM cells, ktab
        GROUP BY b, k HAVING CAST(count(*) AS BIGINT) = k
    ), kept AS (
        SELECT c.* FROM cells c JOIN complete USING (b)
    ), r2 AS (
        SELECT w.b, w.j,
               1 + CAST(sum(CASE WHEN v.x < w.x THEN 2
                                 WHEN v.x = w.x THEN 1
                                 ELSE 0 END) AS BIGINT) AS r2
        FROM kept w JOIN kept v ON v.b = w.b
        GROUP BY w.b, w.j
    ), per_j AS (
        SELECT j, CAST(sum(r2) AS BIGINT) AS rr,
               CAST(sum(r2 * r2) AS BIGINT) AS rr2,
               CAST(count(*) AS BIGINT) AS n
        FROM r2 GROUP BY j
    ), tot AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(rr2) AS BIGINT) AS a4,
               CAST(sum(rr * rr) AS BIGINT) AS srr2,
               CAST(sum(rr) AS BIGINT) AS srr
        FROM per_j
    ), m AS (
        SELECT n AS n_blocks, k AS k_treatments,
               CAST(srr2 - 2 * n * (k + 1) * srr
                    + k * n * n * (k + 1) * (k + 1) AS BIGINT) AS n4,
               CAST(a4 - n * k * (k + 1) * (k + 1) AS BIGINT) AS d4
        FROM tot
    ), chi AS (
        SELECT n_blocks, k_treatments,
               CAST(CASE WHEN d4 > 0 THEN
                    (n4 * ((k_treatments - 1) * 1000000)) // d4
                    ELSE NULL END AS BIGINT) AS chi2_e6,
               CAST({crit} AS BIGINT) AS crit_e6
        FROM m
    )
    SELECT n_blocks, k_treatments, chi2_e6, crit_e6,
           CASE WHEN chi2_e6 IS NULL OR crit_e6 IS NULL THEN NULL
                ELSE chi2_e6 > crit_e6 END AS significant
    FROM chi
"""


ORACLES_EXT["events_friedman_test"] = _friedman_oracle()


def _kappa_oracle() -> str:
    """Cohen's-kappa twin over the SAME marker-word language-ID SQL as
    doc_langid_confusion; sign-split remainder-stepped e6 kappa
    (portable_math.big_e6_div_sql)."""
    from firebase_etl_spark.functions.portable_math import big_e6_div_sql

    pos = big_e6_div_sql("d * n - spe", "n * n - spe", "//")
    neg = big_e6_div_sql("spe - d * n", "n * n - spe", "//")
    pe = big_e6_div_sql("spe", "n * n", "//")
    return f"""
    WITH hits AS (
        SELECT lang,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['the','a','and','of','to'], t))) AS en_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['le','la','et','les','des'], t))) AS fr_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['der','die','und','das','ist'], t))) AS de_hits,
               len(list_filter(list_distinct({_TOKS}), t -> list_contains(
                   ['el','la','y','los','de'], t))) AS es_hits
        FROM documents
        WHERE lang IS NOT NULL AND text IS NOT NULL
    ), pred AS (
        SELECT lang AS a, {_LANG_SQL} AS b FROM hits
    ), cells AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS c
        FROM pred GROUP BY a, b
    ), rm AS (
        SELECT a, CAST(sum(c) AS BIGINT) AS rm FROM cells GROUP BY a
    ), cm AS (
        SELECT b, CAST(sum(c) AS BIGINT) AS cm FROM cells GROUP BY b
    ), spet AS (
        SELECT CAST(coalesce(sum(rm.rm * cm.cm), 0) AS BIGINT) AS spe
        FROM rm JOIN cm ON rm.a = cm.b
    ), tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0)
                   AS BIGINT) AS d
        FROM cells
    )
    SELECT n AS n_items, d AS n_agree,
           CAST(CASE WHEN n > 0 THEN (d * 1000000) // n
                ELSE NULL END AS BIGINT) AS po_e6,
           CAST(CASE WHEN n > 0 THEN {pe}
                ELSE NULL END AS BIGINT) AS pe_e6,
           CAST(CASE WHEN n * n - spe <= 0 THEN NULL
                WHEN d * n >= spe THEN {pos}
                ELSE -({neg}) END AS BIGINT) AS kappa_e6
    FROM tot, spet
"""


ORACLES_EXT["doc_langid_kappa"] = _kappa_oracle()


def _benford_oracle(final_cols: str) -> str:
    """Benford twin: same decimal-string first digit, identical
    chi-square and MAD expressions (stats.benford_chi2_sql /
    benford_mad_e6_sql). ``final_cols`` picks the batch (with digit
    counts) or streaming (read-outs only) projection."""
    from firebase_etl_spark.operators.stats import (
        BENFORD_CHI2_CRIT_E6,
        benford_chi2_sql,
        benford_mad_e6_sql,
    )

    csum = ", ".join(
        f"CAST(sum(CASE WHEN dig = '{d}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{d}"
        for d in range(1, 10)
    )
    return f"""
    WITH base AS (
        SELECT event_type AS g,
               CAST(round(value * 100, 0) AS BIGINT) AS v
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), digs AS (
        SELECT g, substr(CAST(v AS VARCHAR), 1, 1) AS dig
        FROM base WHERE v > 0
    ), agg AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n, {csum}
        FROM digs GROUP BY g
    ), scored AS (
        SELECT g, n, c1, c2, c3, c4, c5, c6, c7, c8, c9,
               CAST(({benford_chi2_sql()}) AS BIGINT) AS chi2_e6,
               CAST(({benford_mad_e6_sql('//')}) AS BIGINT) AS mad_e6
        FROM agg
    )
    SELECT {final_cols},
           chi2_e6, mad_e6,
           chi2_e6 <= {BENFORD_CHI2_CRIT_E6} AS benford_ok
    FROM scored
    ORDER BY 1
"""


ORACLES_EXT["events_benford_audit"] = _benford_oracle(
    "g AS group_key, n AS n_values, c1, c2, c3, c4, c5, c6, c7, c8, c9"
)

ORACLES_EXT["stream_benford_check"] = _benford_oracle(
    "g AS event_type, n AS n_values"
)


ORACLES_EXT["nation_revenue_hhi"] = """
    WITH pn AS (
        SELECT r_name, n_name,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    ), tot AS (
        SELECT r_name, CAST(sum(rev) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS n_nations
        FROM pn GROUP BY r_name
    ), sh AS (
        SELECT pn.r_name, n_nations, tot,
               CAST((rev * 1000000) // tot AS BIGINT) AS share_e6
        FROM pn JOIN tot USING (r_name)
    )
    SELECT r_name AS region,
           CAST(max(n_nations) AS BIGINT) AS n_nations,
           CAST(max(tot) AS BIGINT) AS total_revenue_cents,
           CAST(max(share_e6) AS BIGINT) AS top_share_e6,
           CAST(sum(share_e6 * share_e6) // 1000000 AS BIGINT) AS hhi_e6
    FROM sh GROUP BY r_name ORDER BY region
"""


def _acf_oracle() -> str:
    """ACF twin: same calendar-day counts, same shifted-date equi-join
    pairs, identical Pearson e6 text (timeseries.pearson_e6_sql)."""
    from firebase_etl_spark.operators.timeseries import pearson_e6_sql

    return f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), lags AS (
        SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag
    ), pairs AS (
        SELECT l.lag AS lag, a.x AS xa, b.x AS xb
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
    ), mom AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS np,
               CAST(sum(xa) AS BIGINT) AS sx,
               CAST(sum(xb) AS BIGINT) AS sy,
               CAST(sum(xa * xb) AS BIGINT) AS sxy,
               CAST(sum(xa * xa) AS BIGINT) AS sxx,
               CAST(sum(xb * xb) AS BIGINT) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT lag, np AS n_pairs,
           CAST(({pearson_e6_sql()}) AS BIGINT) AS r_e6
    FROM mom ORDER BY lag
"""


ORACLES_EXT["events_autocorr_daily"] = _acf_oracle()


def _simpson_oracle() -> str:
    """Simpson-diversity twin: same token explode, same exact integer
    moments, identical remainder-stepped e6 division."""
    from firebase_etl_spark.functions.portable_math import big_e6_div_sql

    lam = big_e6_div_sql("s2", "t_tok * (t_tok - 1)", "//")
    return f"""
    WITH tf AS MATERIALIZED (
        SELECT source AS g,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS t
        FROM documents
        WHERE source IS NOT NULL AND text IS NOT NULL
    ), cnt AS (
        SELECT g, t, CAST(count(*) AS BIGINT) AS c
        FROM tf GROUP BY g, t
    ), agg AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS t_tok,
               CAST(count(*) AS BIGINT) AS v,
               CAST(sum(c * (c - 1)) AS BIGINT) AS s2
        FROM cnt GROUP BY g
    )
    SELECT g AS group_key, t_tok AS n_tokens, v AS vocab_size,
           CAST(CASE WHEN t_tok >= 2 THEN {lam}
                ELSE NULL END AS BIGINT) AS simpson_e6,
           CAST(CASE WHEN t_tok >= 2 THEN 1000000 - ({lam})
                ELSE NULL END AS BIGINT) AS gini_simpson_e6,
           CAST(CASE WHEN t_tok < 2 OR s2 = 0 THEN NULL
                ELSE (t_tok * (t_tok - 1) * 100) // s2 END AS BIGINT)
               AS inv_simpson_e2
    FROM agg ORDER BY group_key
"""


ORACLES_EXT["documents_simpson_diversity"] = _simpson_oracle()


ORACLES_EXT["orders_qq_drift"] = """
    WITH base AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
               o_orderkey AS k
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    ), ranked AS (
        SELECT y, v,
               CAST(row_number() OVER (PARTITION BY y ORDER BY v, k)
                   AS BIGINT) AS r
        FROM base
    ), ng AS (
        SELECT y, CAST(max(r) AS BIGINT) AS n FROM ranked GROUP BY y
    ), qs AS (
        SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS q_idx
    ), cuts AS (
        SELECT rk.y AS o_year, q.q_idx, rk.v AS cut_cents
        FROM ranked rk
        JOIN ng ON rk.y = ng.y
        CROSS JOIN qs q
        WHERE rk.r = greatest((q.q_idx * ng.n + 9) // 10, 1)
    )
    SELECT c.o_year, c.q_idx, c.cut_cents,
           p.cut_cents AS prev_cut_cents,
           c.cut_cents - p.cut_cents AS delta_cents
    FROM cuts c
    LEFT JOIN cuts p
      ON p.o_year = c.o_year - 1 AND p.q_idx = c.q_idx
    ORDER BY c.o_year, c.q_idx
"""


def _dow_oracle() -> str:
    """DOW-seasonality twin: isodow == Spark weekday()+1; identical
    remainder-stepped index division."""
    from firebase_etl_spark.functions.portable_math import big_e6_div_sql

    idx = big_e6_div_sql(
        "(revenue_cents // 100) * days_total",
        "n_days * (rev_total // 100)",
        "//",
    )
    return f"""
    WITH per_dow AS (
        SELECT CAST(isodow(o_orderdate) AS BIGINT) AS dow,
               CAST(count(DISTINCT o_orderdate) AS BIGINT) AS n_days,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS revenue_cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n_days) AS BIGINT) AS days_total,
               CAST(sum(revenue_cents) AS BIGINT) AS rev_total
        FROM per_dow
    )
    SELECT dow, n_days, n_orders, revenue_cents,
           CAST(CASE WHEN n_days > 0 AND rev_total >= 100 THEN {idx}
                ELSE NULL END AS BIGINT) AS seasonality_e6
    FROM per_dow, tot
    ORDER BY dow
"""


ORACLES_EXT["orders_dow_seasonality"] = _dow_oracle()


ORACLES_EXT["customer_abc_analysis"] = """
    WITH per_c AS (
        SELECT o_custkey AS k,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS rev
        FROM orders GROUP BY o_custkey
    ), cum AS (
        SELECT rev,
               CAST(sum(rev) OVER (
                   ORDER BY rev DESC, k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_rev
        FROM per_c
    ), tot AS (
        SELECT CAST(sum(rev) AS BIGINT) AS total FROM per_c
    ), classed AS (
        SELECT rev, cum_rev, total,
               CASE WHEN cum_rev * 5 <= total * 4 THEN 'A'
                    WHEN cum_rev * 20 <= total * 19 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM cum, tot
    )
    SELECT abc_class, n_customers, revenue_cents,
           CAST(CASE WHEN total > 0 THEN (((revenue_cents) // (total)) * 1000000 + ((((revenue_cents) % (total)) * 1000) // (total)) * 1000 + ((((((((revenue_cents) % (total)) * 1000) % (total))) * 1000)) // (total)))
                ELSE NULL END AS BIGINT) AS revenue_share_e6
    FROM (
        SELECT abc_class,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(rev) AS BIGINT) AS revenue_cents,
               CAST(max(total) AS BIGINT) AS total
        FROM classed GROUP BY abc_class
    ) ORDER BY abc_class
"""


def _ols_oracle() -> str:
    """OLS twin: identical moment sums, identical shared slope /
    intercept / Pearson expressions (timeseries.ols_slope_e6_sql,
    ols_intercept_e6_sql, pearson_e6_sql)."""
    from firebase_etl_spark.operators.timeseries import (
        ols_intercept_e6_sql,
        ols_slope_e6_sql,
        pearson_e6_sql,
    )

    return f"""
    WITH base AS (
        SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS x,
               CAST(l_quantity AS BIGINT) AS y
        FROM lineitem
        WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS np,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM base
    )
    SELECT np AS n_rows,
           CAST(({ols_slope_e6_sql()}) AS BIGINT) AS slope_e6,
           CAST(({ols_intercept_e6_sql()}) AS BIGINT) AS intercept_e6,
           CAST(({pearson_e6_sql()}) AS BIGINT) AS r_e6
    FROM mom
"""


ORACLES_EXT["lineitem_ols_slope"] = _ols_oracle()


ORACLES_EXT["customer_interpurchase_stats"] = """
    WITH gaps AS (
        SELECT o_custkey,
               CAST(date_diff('day',
                   lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                   ), o_orderdate) AS BIGINT) AS gap
        FROM orders WHERE o_orderdate IS NOT NULL
    ), g AS (
        SELECT * FROM gaps WHERE gap IS NOT NULL
    ), hist AS (
        SELECT gap, CAST(count(*) AS BIGINT) AS c
        FROM g GROUP BY gap
    ), cum AS (
        SELECT gap,
               CAST(sum(c) OVER (
                   ORDER BY gap
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM hist
    ), tot AS (
        SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_repeat,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(gap) AS BIGINT) AS sum_gaps
        FROM g
    ), reads AS (
        SELECT CAST(min(CASE WHEN cum >= (n_gaps + 1) // 2
                        THEN gap END) AS BIGINT) AS median_gap_days,
               CAST(min(CASE WHEN cum >= (9 * n_gaps + 9) // 10
                        THEN gap END) AS BIGINT) AS p90_gap_days
        FROM cum, tot
    )
    SELECT n_repeat, n_gaps,
           CAST(CASE WHEN n_gaps > 0 THEN (sum_gaps * 100) // n_gaps
                ELSE NULL END AS BIGINT) AS mean_gap_e2,
           median_gap_days, p90_gap_days
    FROM tot, reads
"""
