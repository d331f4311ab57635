"""Operator tests: dedup (flagship), validation split, conflict resolution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firebase_etl_spark.operators.conflict import resolve_id_conflicts, skip_conflicts
from firebase_etl_spark.operators.dedup import (
    dedup_keep_latest,
    dedup_keep_latest_two_phase,
    duplicate_stats,
)
from firebase_etl_spark.operators.validate import required_columns_report, validate_users

ROWS = [
    # (id, email, createdAt)
    ("a1", "x@e.com", "2024-01-01"),
    ("a2", "x@e.com", "2024-03-01"),   # survivor for x@e.com (latest)
    ("a3", "x@e.com", None),           # null order col loses
    ("b1", "y@e.com", "2024-02-01"),   # singleton survives
    ("c1", None, "2024-01-05"),        # null key dropped
    ("d1", "z@e.com", "2024-02-02"),
    ("d2", "z@e.com", "2024-02-02"),   # tie -> tiebreaker id desc -> d2
]


def _df(spark):
    df = spark.createDataFrame(ROWS, "id string, email string, createdAt string")
    return df.withColumn("createdAt", F.col("createdAt").cast("timestamp"))


def test_dedup_keep_latest(spark):
    out = dedup_keep_latest(_df(spark), key="email", order_col="createdAt")
    got = {r["email"]: r["id"] for r in out.collect()}
    assert got == {"x@e.com": "a2", "y@e.com": "b1", "z@e.com": "d2"}


def test_dedup_keep_first(spark):
    out = dedup_keep_latest(_df(spark), key="email", order_col="createdAt", keep="first")
    got = {r["email"]: r["id"] for r in out.collect()}
    # keep='first': earliest createdAt wins; null order still loses; tie -> asc id
    assert got == {"x@e.com": "a1", "y@e.com": "b1", "z@e.com": "d1"}


def test_dedup_two_phase_matches_window(spark):
    df = _df(spark)
    cols = ["id", "email", "createdAt"]
    w = dedup_keep_latest(df, key="email", order_col="createdAt").select(cols)
    tp = dedup_keep_latest_two_phase(df, key="email", order_col="createdAt").select(cols)
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, tp.collect()))


def test_duplicate_stats(spark):
    out = {r["email"]: r for r in duplicate_stats(_df(spark), key="email").collect()}
    assert set(out) == {"x@e.com", "z@e.com"}
    assert out["x@e.com"]["dup_count"] == 3
    assert out["x@e.com"]["member_ids"] == ["a1", "a2", "a3"]


def test_validate_users_split(spark):
    df = spark.createDataFrame(
        [
            ("i1", "a@b.c", "ACTIVE"),
            (None, "b@b.c", "ACTIVE"),
            ("i3", None, "BANNED"),
            ("i4", "c@b.c", "WEIRD"),
        ],
        "id string, email string, status string",
    )
    res = validate_users(df)
    assert {r["id"] for r in res.valid.collect()} == {"i1"}
    quar = {r["id"]: r["violations"] for r in res.quarantine.collect()}
    assert quar[None] == ["id_null"]
    assert quar["i3"] == ["email_null"]
    assert quar["i4"] == ["status_invalid"]


def test_required_columns_report(spark):
    df = spark.createDataFrame([("a", None), (None, "x")], "id string, email string")
    rep = required_columns_report(df)
    assert rep["total_rows"] == 2
    assert rep["null_counts"] == {"id": 1, "email": 1}
    assert rep["valid"] is False


def test_conflict_resolution(spark, jobs_started):
    incoming = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), ("k3", "c")], "id string, v string"
    )
    existing = spark.createDataFrame([("k2",), ("k9",)], "id string")
    kept = skip_conflicts(incoming, existing)
    assert {r["id"] for r in kept.collect()} == {"k1", "k3"}

    resolved, n_jobs = jobs_started(lambda: resolve_id_conflicts(incoming, existing))
    assert n_jobs == 0                         # a lazy plan: no Spark action
    rows = resolved.collect()
    assert len(rows) == 3                      # nothing dropped
    ids = {r["id"] for r in rows}
    assert "k2" not in ids                     # collision rewritten
    assert {r["v"] for r in rows} == {"a", "b", "c"}
    assert not ids & {"k2", "k9"}
    assert resolved.columns == incoming.columns

    # every incoming id collides, and the target lists one id twice
    n = 100
    incoming = spark.createDataFrame(
        [(f"k{i}", f"v{i}", i) for i in range(n)], "id string, v string, n int"
    )
    existing = spark.createDataFrame(
        [(f"k{i}",) for i in range(n)] + [("k7",)], "id string"
    )
    rows = resolve_id_conflicts(incoming, existing).collect()
    ids = [r["id"] for r in rows]
    assert len(rows) == n                      # all kept, none fanned out
    assert len(set(ids)) == n
    assert not set(ids) & {f"k{i}" for i in range(n)}
    assert sorted((r["n"], r["v"]) for r in rows) == [(i, f"v{i}") for i in range(n)]


def test_connected_components_labels_and_clusters(spark):
    from firebase_etl_spark.operators.graph import connected_components, dedup_clusters

    # two components {1,2,3,7} (chain + cross edge) and {10,11}; 99 isolated
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (7, 1), (10, 11)], "id_a long, id_b long"
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}
    cl = {r["representative"]: r["n_members"] for r in dedup_clusters(edges).collect()}
    assert cl == {1: 4, 10: 2}


def test_connected_components_long_chain_converges(spark):
    from firebase_etl_spark.operators.graph import connected_components

    # path graph 0-1-2-...-12: worst-case diameter for label propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    cc = connected_components(edges).collect()
    assert {r["component"] for r in cc} == {0}
    assert len(cc) == 13


def test_connected_components_local_and_distributed_paths_agree(spark):
    """The adaptive driver-side union-find (small edge sets) and the
    distributed label-propagation loop must produce identical labels;
    threshold=0 forces the loop, the default takes the local path."""
    from firebase_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)]          # chain 0..9
        + [(20, 25), (25, 21), (21, 20)]         # triangle
        + [(40, 41)],
        "id_a long, id_b long",
    )
    local = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    dist = {
        r["node"]: r["component"]
        for r in connected_components(edges, local_edge_threshold=0).collect()
    }
    assert local == dist
    assert local[9] == 0 and local[25] == 20 and local[41] == 40


# --- asof_join (operators/asof.py) -----------------------------------------

def _asof_fixture(spark):
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [
            (1, "u1", dt(2024, 1, 10, 12, 0, 0)),
            (2, "u1", dt(2024, 1, 20, 0, 0, 0)),
            (3, "u2", dt(2024, 1, 5, 0, 0, 0)),
        ],
        "event_id long, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", dt(2024, 1, 10, 12, 0, 0), "ord-a", 10.0),
            ("u1", dt(2024, 1, 10, 12, 0, 0), "ord-b", 20.0),
            ("u1", dt(2024, 1, 15, 0, 0, 0), "ord-c", 30.0),
            ("u2", dt(2024, 2, 1, 0, 0, 0), "ord-z", 99.0),
        ],
        "user string, ots timestamp, order_id string, amount double",
    )
    return left, right


def test_asof_join_backward_with_string_tiebreak(spark):
    """Ties at equal right time resolve by the GREATEST tiebreak in its
    native type — a string id must not be cast-to-long into NULL (which
    made tie resolution nondeterministic before round 2)."""
    from firebase_etl_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    out = {
        r["event_id"]: (r["order_id"], r["amount"])
        for r in asof_join(
            left, right,
            left_on="user", right_on="user",
            left_time="ts", right_time="ots",
            right_payload=["order_id", "amount"],
            right_tiebreak="order_id",
        ).collect()
    }
    # event 1: ts == both ord-a/ord-b times (ties match; 'ord-b' > 'ord-a')
    assert out[1] == ("ord-b", 20.0)
    # event 2: most recent earlier order is ord-c
    assert out[2] == ("ord-c", 30.0)
    # event 3: u2's only order is in the future -> no match
    assert out[3] == (None, None)


def test_asof_join_payload_is_atomic_across_nulls(spark):
    """A NULL inside the newest matching right row must NOT backfill from an
    older right row — the payload travels as one struct (merge_asof
    whole-row semantics)."""
    from datetime import datetime as dt

    from firebase_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", dt(2024, 3, 1))], "event_id long, key string, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            ("k", dt(2024, 1, 1), 100, "old-note"),
            ("k", dt(2024, 2, 1), 200, None),  # newest: note IS NULL
        ],
        "key string, rts timestamp, score int, note string",
    )
    row = asof_join(
        left, right,
        left_on="key", right_on="key",
        left_time="ts", right_time="rts",
        right_payload=["score", "note"],
        right_tiebreak="score",
    ).collect()[0]
    assert row["score"] == 200
    assert row["note"] is None  # NOT "old-note"


def test_range_join_subsecond_boundaries(spark):
    """The bucketized range join compares microsecond epochs: a pair 120.5s
    apart must NOT match a +/-120s window, one 119.9s apart must."""
    from datetime import datetime as dt

    from firebase_etl_spark.operators.range_join import range_join

    a = spark.createDataFrame(
        [(1, "k", dt(2024, 1, 1, 0, 0, 0, 0))], "id_a long, k string, ts_a timestamp"
    )
    b = spark.createDataFrame(
        [
            (2, "k", dt(2024, 1, 1, 0, 1, 59, 900000)),  # +119.9s -> in
            (3, "k", dt(2024, 1, 1, 0, 2, 0, 500000)),   # +120.5s -> out
        ],
        "id_b long, k2 string, ts_b timestamp",
    )
    got = {
        r["id_b"]
        for r in range_join(
            a, b, left_on="k", right_on="k2", left_time="ts_a",
            right_time="ts_b", before_seconds=120, after_seconds=120,
        ).collect()
    }
    assert got == {2}


def test_asof_join_forward_and_tolerance(spark):
    """Forward direction matches the EARLIEST right row at/after the left
    time (ties match; greatest tiebreak wins); tolerance nulls out matches
    farther than the bound."""
    from datetime import datetime as dt

    from firebase_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "u", dt(2024, 1, 10)),
            (2, "u", dt(2024, 3, 1)),
        ],
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", dt(2024, 1, 10), "a", 1.0),   # ties with event 1
            ("u", dt(2024, 1, 10), "b", 2.0),   # same time, greater id wins
            ("u", dt(2024, 4, 1), "z", 9.0),    # 31 days after event 2
        ],
        "k string, rts timestamp, rid string, val double",
    )
    out = {
        r["event_id"]: (r["rid"], r["val"])
        for r in asof_join(
            left, right, left_on="k", right_on="k", left_time="ts",
            right_time="rts", right_payload=["rid", "val"],
            right_tiebreak="rid", direction="forward",
        ).collect()
    }
    assert out[1] == ("b", 2.0)
    assert out[2] == ("z", 9.0)

    bounded = {
        r["event_id"]: r["rid"]
        for r in asof_join(
            left, right, left_on="k", right_on="k", left_time="ts",
            right_time="rts", right_payload=["rid", "val"],
            right_tiebreak="rid", direction="forward",
            tolerance_seconds=7 * 86400,
        ).collect()
    }
    assert bounded[1] == "b"
    assert bounded[2] is None  # 31 days > 7-day tolerance


def test_asof_join_rejects_bad_direction(spark):
    import pytest

    from firebase_etl_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1, 1)], "a long, t long")
    with pytest.raises(ValueError, match="direction"):
        asof_join(df, df, "a", "a", "t", "t", ["a"], direction="nearest")


def test_connected_components_string_ids_both_paths(spark):
    """Node id type follows the input on BOTH adaptive paths — string ids
    were supported by the join loop and must survive the local union-find."""
    from firebase_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    for thresh in (2_000_000, 0):  # local path, then distributed loop
        cc = connected_components(edges, local_edge_threshold=thresh)
        assert cc.schema["node"].dataType.simpleString() == "string"
        got = {r["node"]: r["component"] for r in cc.collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_gopher_quality_rules(spark):
    """Rule sanity on constructed docs: a repeated-phrase doc trips the
    repetition rules, a normal-prose doc passes everything, a symbol-heavy
    doc trips symbol/alpha rules."""
    from firebase_etl_spark.operators.quality import gopher_quality_flags

    prose = (
        "the quick brown fox jumps over a lazy dog and then it runs "
        "to the old mill where many small animals gather in the warm "
        "evening light while birds sing softly of distant hills and "
        "rivers that wind slowly toward the sea bringing cool air "
        "to every meadow and grove in the quiet valley below tonight"
    )
    looped = ("spam ham " * 60).strip()          # one 2-gram dominates
    symbols = " ".join(["###"] * 80)             # no alphabetic words
    docs = spark.createDataFrame(
        [(1, prose), (2, looped), (3, symbols)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert rows[1]["pass_all"], {
        k: v for k, v in rows[1].asDict().items() if k.startswith("ok_") and not v
    }
    assert not rows[2]["ok_top2gram"] and not rows[2]["pass_all"]
    assert not rows[3]["ok_alpha_words"] and not rows[3]["ok_symbol_ratio"]
    assert rows[2]["top2gram_char_frac"] > 0.75  # the loop IS the doc


def test_winnow_near_dups_df_cut_bounds_boilerplate(spark):
    """A print appearing in every doc (shared boilerplate) must be dropped
    by the document-frequency cut instead of generating ~m^2/2 join rows;
    docs that only share boilerplate then produce NO pair."""
    from firebase_etl_spark.operators.text import winnow_near_dups

    boiler = "standard legal footer applies to all documents here"
    docs = [(i, f"unique text body number {i} " * 3 + boiler) for i in range(12)]
    docs.append((100, docs[0][1]))  # one true near-dup of doc 0
    df = spark.createDataFrame(docs, "doc_id long, text string")

    strict = winnow_near_dups(df, min_shared=1, max_df=3, portable=True).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in strict}
    assert pairs == {(0, 100)}  # boilerplate-only overlaps suppressed

    loose = winnow_near_dups(df, min_shared=1, max_df=1000, portable=True)
    assert loose.count() > len(pairs)  # without the cut, boilerplate pairs everything


def test_scd2_history_regimes_intervals_nullsafe(spark):
    """Consecutive identical attributes collapse into one regime; null ==
    null is NOT a change (eqNullSafe); validity intervals chain exactly and
    only the last regime per key is current."""
    from firebase_etl_spark.operators.scd2 import scd2_history

    rows = [
        (1, 1, "A"), (1, 2, "A"), (1, 3, None), (1, 4, None), (1, 5, "B"),
        (2, 1, "X"),
    ]
    df = spark.createDataFrame(rows, "k long, ts long, s string")
    out = {
        (r["k"], r["version"]): r
        for r in scd2_history(df, "k", "ts", ["s"]).collect()
    }
    assert len(out) == 4
    a, n, b = out[(1, 1)], out[(1, 2)], out[(1, 3)]
    assert (a["s"], a["valid_from"], a["valid_to"], a["n_rows"]) == ("A", 1, 3, 2)
    assert (n["s"], n["valid_from"], n["valid_to"], n["n_rows"]) == (None, 3, 5, 2)
    assert (b["s"], b["valid_from"], b["valid_to"], b["n_rows"]) == ("B", 5, None, 1)
    assert [r["is_current"] for r in (a, n, b)] == [False, False, True]
    x = out[(2, 1)]
    assert (x["s"], x["valid_to"], x["is_current"]) == ("X", None, True)


def test_incremental_exact_dedup_across_batches(spark, tmp_path):
    """Batch 2 must drop content batch 1 already ingested (even under
    normalization differences), dedup within itself, and extend the ledger
    so batch 3 sees batch 2's fingerprints."""
    from firebase_etl_spark.operators.dedup_approx import incremental_exact_dedup

    ledger = str(tmp_path / "ledger")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    s1 = sorted(r["doc_id"] for r in incremental_exact_dedup(spark, b1, ledger).collect())
    assert s1 == [1, 2]
    b2 = spark.createDataFrame(
        [(3, "ALPHA   beta"), (4, "delta"), (5, "delta"), (6, "epsilon")],
        "doc_id long, text string",
    )
    s2 = sorted(r["doc_id"] for r in incremental_exact_dedup(spark, b2, ledger).collect())
    assert s2 == [4, 6]  # 3 seen in batch 1; 5 within-batch dup of 4
    b3 = spark.createDataFrame([(7, "epsilon")], "doc_id long, text string")
    s3 = [r["doc_id"] for r in incremental_exact_dedup(spark, b3, ledger).collect()]
    assert s3 == []


def test_pii_scrub_counts_and_content(spark):
    """Constructed PII is counted and scrubbed; clean text passes through
    untouched; an email is not double-counted as a phone (scrub order)."""
    from firebase_etl_spark.operators.pii import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or call +1 (555) 123-4567"),
            (2, "server at 192.168.1.100 went down"),
            (3, "a perfectly clean sentence"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ipv4"]) == (1, 1, 0)
    assert rows[1]["scrubbed"] == "contact <EMAIL> or call <PHONE>"
    assert (rows[2]["n_ipv4"], rows[2]["n_email"]) == (1, 0)
    assert rows[2]["scrubbed"] == "server at <IP> went down"
    assert rows[3]["scrubbed"] == rows[3]["text"]


def test_doremi_mixture_upweights_hard_domain(spark):
    """A domain of repetitive (easy, low-loss) text vs a domain of
    varied (hard) text: the hard domain's excess loss is positive and
    its DoReMi weight lands ABOVE its baseline share; the easy domain
    lands below; weights stay a near-partition of 1e6 (integer floors
    lose at most n_domains units)."""
    from firebase_etl_spark.operators.lm import doremi_mixture_weights

    rows = [(i, "the cat sat on the mat " * 5, "easy") for i in range(12)]
    rows += [
        (100 + i, f"zq{i} wv{i * 7} jx{i * 13} kp{i * 3} fh{i * 11}", "hard")
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["domain"]: r for r in doremi_mixture_weights(df).collect()}
    assert set(got) == {"easy", "hard"}
    ez, hd = got["easy"], got["hard"]
    assert hd["loss_e6"] > ez["loss_e6"]
    assert hd["excess_e6"] > 0 and ez["excess_e6"] == 0
    assert hd["doremi_weight_e6"] > hd["baseline_e6"]
    assert ez["doremi_weight_e6"] < ez["baseline_e6"]
    total = sum(r["doremi_weight_e6"] for r in got.values())
    assert 1_000_000 - 4 <= total <= 1_000_000


def test_doremi_mixture_uniform_corpus_keeps_baseline(spark):
    """Identical text in every domain -> zero excess everywhere -> the
    update is a no-op: weights equal baseline shares (up to the two
    integer floors)."""
    from firebase_etl_spark.operators.lm import doremi_mixture_weights

    rows = [
        (d * 10 + i, "alpha beta gamma delta epsilon", f"s{d}")
        for d in range(4)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for r in doremi_mixture_weights(df).collect():
        assert r["excess_e6"] == 0
        assert abs(r["doremi_weight_e6"] - r["baseline_e6"]) <= 2


def test_bigram_lm_scores_fluency_ordering(spark):
    """A doc made of the corpus's dominant bigram pattern must outscore a
    doc of corpus-atypical transitions; probabilities stay <= 0 in log2."""
    from firebase_etl_spark.operators.lm import bigram_lm_scores

    common = " ".join(["the cat sat on the mat"] * 10)
    docs = [(i, common) for i in range(8)]
    docs.append((100, "mat the on sat cat the mat on"))  # reversed transitions
    docs.append((200, "x"))  # single token: no bigrams, absent from output
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert 200 not in rows
    assert rows[0]["avg_log2_prob"] > rows[100]["avg_log2_prob"]
    assert all(r["avg_log2_prob"] <= 0 for r in rows.values())
    assert rows[0]["n_bigrams"] == len(common.split()) - 1


def test_packed_spans_two_phase_prefix_sum(spark):
    """Offsets must equal the single-stream prefix sum regardless of how
    the range partitioner splits the id space (exercised with more
    partitions than rows); split detection matches interval arithmetic."""
    from firebase_etl_spark.operators.packing import packed_spans

    docs = [(i, " ".join(["w"] * (10 + 7 * (i % 5)))) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = sorted(packed_spans(df, ctx_len=32).collect(), key=lambda r: r["doc_id"])
    off = 0
    for r in rows:
        assert r["start_off"] == off, (r["doc_id"], r["start_off"], off)
        assert r["start_seq"] == off // 32
        assert r["end_seq"] == (off + r["n_toks"] - 1) // 32
        assert r["is_split"] == (r["start_seq"] != r["end_seq"])
        off += r["n_toks"]


def test_bpe_train_matches_reference_trainer(spark):
    """The distributed trainer must learn the same merge table (pairs,
    order, counts) as a pure-Python exact BPE reference on the same word
    frequencies — including the chained same-symbol case ('a a a a')
    covered by the bounded replace passes."""
    from collections import Counter

    from firebase_etl_spark.operators.bpe import END, bpe_train

    texts = [
        "low low low lower lowest",
        "new newer newest wide wider",
        "aaaa aaaa aa banana bandana",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")

    def ref_bpe(words: Counter, n: int):
        seqs = {w: tuple(w) + (END,) for w in words}
        out = []
        for rank in range(n):
            pc: Counter = Counter()
            for w, cnt in words.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += cnt
            if not pc:
                break
            (a, b), n_top = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((rank, a, b, n_top))
            for w in seqs:
                s, merged, i = seqs[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(s[i])
                        i += 1
                seqs[w] = tuple(merged)
        return out

    words = Counter(w for t in texts for w in t.lower().split())
    expected = ref_bpe(words, 8)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(df, spark, n_merges=8).orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_bpe_distributed_path_equals_local(spark):
    """The adaptive cutover must be invisible: forcing the distributed
    per-round job loop (local_vocab_threshold=0) learns the same merge
    table and encodes the same token counts as the collected-vocab local
    path (the default for this corpus size)."""
    from firebase_etl_spark.operators.bpe import bpe_train, bpe_vocab

    texts = [
        "low low low lower lowest",
        "new newer newest wide wider",
        "aaaa aaaa aa banana bandana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    m_local = [tuple(r) for r in bpe_train(df, spark, n_merges=8).collect()]
    m_dist = [
        tuple(r)
        for r in bpe_train(
            df, spark, n_merges=8, local_vocab_threshold=0
        ).collect()
    ]
    assert sorted(m_dist) == sorted(m_local) and len(m_local) > 0
    v_local = {r["w"]: (r["cnt"], r["n_tok"]) for r in bpe_vocab(df, spark, n_merges=8).collect()}
    v_dist = {
        r["w"]: (r["cnt"], r["n_tok"])
        for r in bpe_vocab(
            df, spark, n_merges=8, local_vocab_threshold=0
        ).collect()
    }
    assert v_dist == v_local


def test_incremental_minhash_dedup_across_batches(spark, tmp_path):
    """Near-dups are dropped within a batch (earlier id survives) AND
    against prior batches via the signature ledger; unique docs pass."""
    from firebase_etl_spark.operators.dedup_approx import incremental_minhash_dedup

    ledger = str(tmp_path / "sig_ledger")
    dup = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different content about distributed query engines"
    b1 = spark.createDataFrame([(0, dup), (1, dup)], "doc_id long, text string")
    s1 = incremental_minhash_dedup(spark, b1, ledger, threshold=0.8)
    assert {r["doc_id"] for r in s1.collect()} == {0}

    b2 = spark.createDataFrame([(2, dup), (3, uniq)], "doc_id long, text string")
    s2 = incremental_minhash_dedup(spark, b2, ledger, threshold=0.8)
    assert {r["doc_id"] for r in s2.collect()} == {3}

    # the ledger now carries exactly the survivors' signatures
    ids = {r["doc_id"] for r in spark.read.parquet(ledger).collect()}
    assert ids == {0, 3}


def test_curate_and_write_manifest_matches_output(spark, tmp_path, sf_dir):
    """The written corpus, its partition layout, and the manifest must
    agree: per-lang dirs exist, parquet counts equal manifest counts, and
    the content checksum reproduces from what landed on disk."""
    import hashlib

    from firebase_etl_spark.pipeline_corpus import curate_and_write

    out = str(tmp_path / "corpus_out")
    manifest = curate_and_write(spark, sf_dir, out)
    written = spark.read.parquet(manifest["corpus_path"])
    assert written.count() == manifest["n_docs"] > 0
    per_lang = {
        r["lang"]: (r["n"], r["toks"])
        for r in written.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("toks"))
        .collect()
    }
    for entry in manifest["languages"]:
        assert per_lang[entry["lang"]] == (entry["n_docs"], entry["total_tokens"])
        ids = sorted(
            r["doc_id"]
            for r in written.filter(F.col("lang") == entry["lang"]).collect()
        )
        md5 = hashlib.md5(",".join(str(i) for i in ids).encode()).hexdigest()
        assert md5 == entry["content_md5"]


def test_zorder_clusters_both_dimensions(spark):
    """Chunks of the Z-order-sorted sequence must span a far smaller range
    of the SECOND column than the same chunks under a single-column sort
    (the property that makes row-group skipping work on every interleaved
    column), while a first-column sort leaves the second column unsorted."""
    from firebase_etl_spark.operators.layout import zorder_key

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x int, y int")
    d, key = zorder_key(df, ["x", "y"], bits=6)
    ordered = [
        (r["x"], r["y"])
        for r in d.withColumn("k", key).orderBy("k", "x", "y").collect()
    ]

    def avg_chunk_span(seq, dim, chunk=64):
        spans = []
        for i in range(0, len(seq), chunk):
            vals = [t[dim] for t in seq[i : i + chunk]]
            spans.append(max(vals) - min(vals))
        return sum(spans) / len(spans)

    by_x = sorted(ordered, key=lambda t: (t[0], t[1]))
    # x-sorted chunks cover the full y range (span ~63); z-order chunks
    # stay inside an 8x8 tile (span 7) on BOTH dimensions
    assert avg_chunk_span(ordered, 1) <= 10
    assert avg_chunk_span(ordered, 0) <= 10
    assert avg_chunk_span(by_x, 1) > 50


def test_write_zordered_round_trip(spark, tmp_path):
    from firebase_etl_spark.operators.layout import write_zordered

    df = spark.createDataFrame(
        [(i, (i * 37) % 101, f"r{i}") for i in range(500)],
        "a int, b int, payload string",
    )
    path = str(tmp_path / "zt")
    write_zordered(df, ["a", "b"], path, n_files=4, bits=8)
    back = spark.read.parquet(path)
    assert back.count() == 500
    assert sorted(back.columns) == ["a", "b", "payload"]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_link_matches_bruteforce(spark):
    """Gram-blocked linkage must elect exactly the same best match per
    probe as an all-pairs Levenshtein scan — blocking is complete for
    distance-1 deletions and verification is exact."""
    from firebase_etl_spark.operators.linkage import fuzzy_link

    names = [f"Customer#{i:09d}" for i in range(0, 240, 3)]
    targets = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "target_id long, target_name string"
    )
    probes_py = []
    for i, n in enumerate(names):
        if i % 4 == 1:
            pos = 9 + (i % 9)  # 0-based deletion inside the digit zone
            probes_py.append((i, n[:pos] + n[pos + 1 :]))
    probes = spark.createDataFrame(probes_py, "probe_id long, probe_name string")

    got = {
        r["probe_id"]: (r["target_id"], r["distance"])
        for r in fuzzy_link(
            probes,
            targets,
            zone_expr=lambda col: F.substring(F.col(col), 10, 9),
        ).collect()
    }
    expected = {}
    for pid, pname in probes_py:
        best = min(
            (
                (d, tid)
                for tid, tname in enumerate(names)
                if (d := _lev(pname, tname)) <= 1
            ),
            default=None,
        )
        if best:
            expected[pid] = (best[1], best[0])
    assert got == expected and len(got) == len(probes_py)


def test_label_propagation_planted_communities_and_path_parity(spark):
    """Two dense 4-cliques joined by one bridge edge: LPA must keep them
    as two communities (CC would merge them), every member of a clique
    must share its community, and the distributed loop must equal the
    driver-local twin bit-for-bit."""
    from firebase_etl_spark.operators.graph import label_propagation

    cliq1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    cliq2 = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
    edges = spark.createDataFrame(
        cliq1 + cliq2 + [(4, 11)], "p1 long, p2 long"
    )
    local = {
        r["node"]: r["community"]
        for r in label_propagation(edges).collect()
    }
    dist = {
        r["node"]: r["community"]
        for r in label_propagation(edges, local_edge_threshold=0).collect()
    }
    assert local == dist
    assert len({local[n] for n in (1, 2, 3, 4)}) == 1
    assert len({local[n] for n in (11, 12, 13, 14)}) == 1
    assert local[1] != local[12], "bridge must not merge the cliques"


def test_kcore_ladder_and_path_parity(spark):
    """A 4-clique with two pendant tendrils: the 2-core strips the
    tendrils, the 3-core keeps the clique intact, the 4-core is empty;
    distributed and driver-local prunes agree exactly."""
    from firebase_etl_spark.operators.graph import kcore_summary

    cliq = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    tendrils = [(4, 50), (50, 51), (1, 60)]
    edges = spark.createDataFrame(cliq + tendrils, "p1 long, p2 long")
    expect = {2: (4, 6, True), 3: (4, 6, True), 4: (0, 0, True)}
    for thresh in (0, 2_000_000):
        got = {
            r["k"]: (r["n_core_nodes"], r["n_core_edges"], r["converged"])
            for r in kcore_summary(
                edges, ks=(2, 3, 4), local_edge_threshold=thresh
            ).collect()
        }
        assert got == expect, f"threshold={thresh}"


def test_cramers_v_extremes(spark):
    """V = 1 for a perfectly dependent pair, ~0 for an independent one;
    zero-observed grid cells contribute their expected counts (the
    dependent fixture has them)."""
    from firebase_etl_spark.operators.stats import cramers_v

    dep_rows = [("x", "1")] * 10 + [("y", "2")] * 10
    dep = spark.createDataFrame(dep_rows, "a string, b string")
    r = cramers_v(dep, "a", "b").collect()[0]
    assert (r["n_rows"], r["dof"]) == (20, 1)
    assert r["cramers_v"] == 1.0
    ind_rows = [
        (a, b) for a in ("x", "y") for b in ("1", "2") for _ in range(5)
    ]
    ind = spark.createDataFrame(ind_rows, "a string, b string")
    r2 = cramers_v(ind, "a", "b").collect()[0]
    assert r2["chi2"] == 0.0 and r2["cramers_v"] == 0.0


def test_anisotropy_matches_pairwise_brute_force(spark):
    """The sum-vector identity against a direct Python mean over all
    ordered pairs of the same 1e-4-quantized unit vectors: exact
    equality at 6dp, and the tight label's anisotropy exceeds the
    spread label's."""
    from firebase_etl_spark.operators.similarity import anisotropy_report

    rows = [
        (1, [1.0, 0.02, 0.0], 0),
        (2, [1.0, 0.00, 0.03], 0),
        (3, [0.9, 0.10, 0.0], 0),
        (4, [1.0, 0.0, 0.0], 1),
        (5, [0.0, 1.0, 0.0], 1),
        (6, [0.0, 0.0, 1.0], 1),
        (7, [1.0, 1.0, 1.0], None),  # null label excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r["label"]: (r["n_vectors"], r["mean_pairwise_cos"])
        for r in anisotropy_report(df).collect()
    }

    import math

    def quant(v):
        n = math.sqrt(sum(x * x for x in v))
        return [round(x / n * 10000.0) for x in v]

    def brute(vs):
        qs = [quant(v) for v in vs]
        n = len(qs)
        tot = sum(
            sum(a * b for a, b in zip(qs[i], qs[j]))
            for i in range(n)
            for j in range(n)
            if i != j
        )
        return round(tot / 1e8 / (n * (n - 1)), 6)

    import numpy as np  # float32 storage parity with the parquet column

    def f32(v):
        return [float(np.float32(x)) for x in v]

    lab0 = [f32(r[1]) for r in rows if r[2] == 0]
    lab1 = [f32(r[1]) for r in rows if r[2] == 1]
    assert set(got) == {0, 1}
    assert got[0] == (3, brute(lab0))
    assert got[1] == (3, brute(lab1))
    assert got[0][1] > 0.9 > got[1][1]


def test_l_diversity_flags_homogeneous_class(spark):
    """A class of 4 rows all sharing one sensitive value fails l=2 with
    dominant_share 1.0; a mixed class passes; NULL sensitive rows are
    excluded before grouping."""
    from firebase_etl_spark.operators.pii import l_diversity_report

    rows = [
        ("US", "A"), ("US", "A"), ("US", "A"), ("US", "A"),
        ("FR", "A"), ("FR", "B"), ("FR", "B"),
        ("DE", None),  # NULL sensitive: excluded entirely
        ("DE", "C"),
    ]
    df = spark.createDataFrame(rows, "country string, seg string")
    out = {
        r["country"]: (
            r["n_rows"], r["n_sensitive_values"],
            r["dominant_share"], r["l_diverse"],
        )
        for r in l_diversity_report(df, ["country"], "seg", 2).collect()
    }
    assert out["US"] == (4, 1, 1.0, False)
    assert out["FR"] == (3, 2, round(2 / 3, 6), True)
    assert out["DE"] == (1, 1, 1.0, False)


def test_table_contract_rules_hand_computed(spark):
    """Every rule kind against a planted table: null caps (one passing
    under its cap, one failing), enum domain, numeric range, and key
    uniqueness with the duplicated rows counted (not the keys)."""
    from firebase_etl_spark.operators.validate import table_contract_report

    rows = [
        (1, "A", 10.0),
        (1, "A", 20.0),  # duplicate key 1 => 2 violating rows
        (2, "B", -5.0),  # below range lo
        (3, "X", 30.0),  # outside enum
        (4, None, None),  # null status + null amount
    ]
    df = spark.createDataFrame(rows, "k int, status string, amt double")
    out = {
        r["rule"]: (r["n_violations"], r["violation_rate"], r["passed"])
        for r in table_contract_report(
            df,
            [
                ("unique", "k", None),
                ("not_null", "status", 0.5),
                ("not_null", "amt", 0.0),
                ("in_set", "status", ["A", "B"]),
                ("range", "amt", 0.0, 100.0),
            ],
        ).collect()
    }
    assert out["unique:k"] == (2, 0.4, False)
    assert out["not_null:status"] == (1, 0.2, True)  # under the 0.5 cap
    assert out["not_null:amt"] == (1, 0.2, False)
    assert out["in_set:status"] == (1, 0.2, False)
    assert out["range:amt"] == (1, 0.2, False)


def test_hits_separates_hubs_from_authorities(spark):
    """A pure-hub/pure-authority bipartite graph: node 1 points at
    {10,11,12}, node 2 at {10}. Node 1 must out-hub node 2, node 10
    must out-authority 11/12, sources have zero authority and sinks
    zero hub; both execution paths agree bit-for-bit."""
    from firebase_etl_spark.operators.graph import hits

    edges = [(1, 10, 1), (1, 11, 1), (1, 12, 1), (2, 10, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    local = {
        r["node"]: (r["hub_e12"], r["auth_e12"])
        for r in hits(df, n_iter=6).collect()
    }
    dist = {
        r["node"]: (r["hub_e12"], r["auth_e12"])
        for r in hits(df, n_iter=6, local_edge_threshold=0).collect()
    }
    assert local == dist
    assert local[1][0] > local[2][0] > 0
    assert local[10][1] > local[11][1] > 0
    assert local[11] == local[12]
    assert local[1][1] == local[2][1] == 0, "pure sources: no authority"
    assert local[10][0] == 0, "pure sinks: no hub score"


def test_item_similarity_binary_cosine(spark):
    """Hand-computed binary cosine: items A,B share 2 of their baskets
    (c_A=3, c_B=2 => cos = 2/sqrt(6)); the pair (A,C) below
    min_pair_count is absent; both directions are emitted."""
    from firebase_etl_spark.operators.basket import item_similarity

    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"),
        (3, "A"), (3, "C"),
        (4, "C"),
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = {
        (r["item"], r["partner"]): (r["n_co"], r["cosine_sim"], r["rank"])
        for r in item_similarity(df, "bk", "it", 2, 3).collect()
    }
    expect_cos = round(2 / (3 * 2) ** 0.5, 6)
    assert out == {
        ("A", "B"): (2, expect_cos, 1),
        ("B", "A"): (2, expect_cos, 1),
    }


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """PPR on a two-hub graph: seeding hub A must rank A's neighborhood
    above B's (uniform PageRank ranks them identically by symmetry);
    both execution paths agree."""
    from firebase_etl_spark.operators.graph import pagerank

    # two symmetric stars: hub 1 <-> {2,3}, hub 11 <-> {12,13}
    edges = []
    for hub, leaves in ((1, (2, 3)), (11, (12, 13))):
        for leaf in leaves:
            edges += [(hub, leaf, 1), (leaf, hub, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    uni = {r["node"]: r["rank_e12"] for r in pagerank(df, n_iter=8).collect()}
    assert uni[1] == uni[11], "uniform PR must respect the symmetry"
    for thresh in (0, 2_000_000):
        ppr = {
            r["node"]: r["rank_e12"]
            for r in pagerank(
                df, n_iter=8, seeds=[1], local_edge_threshold=thresh
            ).collect()
        }
        assert ppr[1] > ppr[11]
        assert ppr[2] > ppr[12]
        if thresh == 0:
            dist = ppr
    local = {
        r["node"]: r["rank_e12"]
        for r in pagerank(df, n_iter=8, seeds=[1]).collect()
    }
    assert local == dist, "seeded paths must agree bit-for-bit"


def test_pagerank_matches_integer_reference(spark):
    """The distributed fixed-point PageRank must reproduce a pure-Python
    integer reference EXACTLY (same truncations, same trajectory) — the
    property that makes the cross-engine oracle bit-exact."""
    from firebase_etl_spark.operators.graph import PR_SCALE, pagerank

    edges_py = [(0, 1, 5), (0, 2, 3), (1, 2, 2), (2, 0, 7), (3, 2, 1)]
    edges = spark.createDataFrame(edges_py, "src long, dst long, w long")

    nodes = sorted({u for u, _, _ in edges_py} | {v for _, v, _ in edges_py})
    n = len(nodes)
    w_out = {}
    for u, _, w in edges_py:
        w_out[u] = w_out.get(u, 0) + w
    tp = (PR_SCALE // n) * 15 // 100
    r = {v: PR_SCALE // n for v in nodes}
    for _ in range(10):
        inc = {v: 0 for v in nodes}
        for u, v, w in edges_py:
            inc[v] += r[u] * w // w_out[u]
        r = {v: tp + 85 * inc[v] // 100 for v in nodes}

    # BOTH adaptive paths must reproduce the reference exactly: the
    # driver-side loop (default threshold) and the distributed join loop
    # (threshold forced to 0), so the adaptive switch is invisible
    got_local = {
        row["node"]: row["rank_e12"] for row in pagerank(edges, n_iter=10).collect()
    }
    got_dist = {
        row["node"]: row["rank_e12"]
        for row in pagerank(edges, n_iter=10, local_edge_threshold=0).collect()
    }
    assert got_local == r
    assert got_dist == r
    # node 2 receives from everyone — it must be the top-ranked node
    assert max(got_local, key=got_local.get) == 2


def test_bpe_vocab_matches_reference_encoder(spark):
    """bpe_vocab's token counts must equal encoding with an exact
    pure-Python BPE (train + apply on the same corpus)."""
    from collections import Counter

    from firebase_etl_spark.operators.bpe import END, bpe_vocab

    texts = [
        "low low low lower lowest",
        "new newer newest wide wider",
        "aaaa aaaa aa banana bandana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    words = Counter(w for t in texts for w in t.lower().split())
    seqs = {w: tuple(w) + (END,) for w in words}
    for _ in range(8):
        pc: Counter = Counter()
        for w, cnt in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += cnt
        if not pc:
            break
        (a, b), _n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w in seqs:
            s, merged, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(s[i])
                    i += 1
            seqs[w] = tuple(merged)
    expected = {w: (words[w], len(seqs[w])) for w in words}
    got = {
        r["w"]: (r["cnt"], r["n_tok"])
        for r in bpe_vocab(df, spark, n_merges=8).collect()
    }
    assert got == expected


def test_gapfill_hourly_locf_semantics(spark):
    """Dense spine covers exactly min..max hour per key; gap hours carry
    the LAST observed hourly mean forward; leading gaps stay NULL."""
    from datetime import datetime as dt

    from firebase_etl_spark.operators.timeseries import gapfill_hourly

    rows = [
        # key 'a': hours 0, 3 observed -> spine 0..3, gaps 1,2 locf=10.0
        ("a", dt(2024, 1, 1, 0, 15), 10.0),
        ("a", dt(2024, 1, 1, 0, 45), 10.0),
        ("a", dt(2024, 1, 1, 3, 5), 99.0),
        # key 'b': single hour -> spine of 1, no gaps
        ("b", dt(2024, 1, 1, 7, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        (r["event_type"], r["hour"].hour): (
            r["n_events"], r["is_gap"], r["value_locf"]
        )
        for r in gapfill_hourly(df).collect()
    }
    assert len(out) == 5
    assert out[("a", 0)] == (2, False, 10.0)
    assert out[("a", 1)] == (0, True, 10.0)
    assert out[("a", 2)] == (0, True, 10.0)
    assert out[("a", 3)] == (1, False, 99.0)
    assert out[("b", 7)] == (1, False, 5.0)


def test_ngram_overlap_counts_distinct_shared_grams(spark):
    """Overlap counts DISTINCT n-grams shared with the probe set: repeats
    inside a doc count once; zero-overlap docs are absent."""
    from firebase_etl_spark.operators.contamination import (
        decontamination_report,
        ngram_overlap,
    )

    probes = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # shares 'the quick brown' and 'quick brown fox'; the repeat
            # of the first trigram must not double-count
            (1, "the quick brown fox the quick brown cat", "s1"),
            (2, "completely unrelated words here", "s1"),
            (3, "the quick brown", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    ov = {
        r["doc_id"]: r["overlap"]
        for r in ngram_overlap(corpus, probes, n=3).collect()
    }
    assert ov == {1: 2, 3: 1}
    rep = {
        r["source"]: (r["n_docs"], r["n_contaminated"], r["max_overlap"])
        for r in decontamination_report(corpus, probes, n=3).collect()
    }
    assert rep == {"s1": (2, 1, 2), "s2": (1, 1, 1)}


def test_bloom_overlap_equals_exact_overlap(spark):
    """The Bloom-prefiltered overlap path is bit-identical to the exact
    broadcast-join path: false positives are removed by the exact verify
    join, false negatives are impossible (every inserted gram's bits are
    set). Pinned on a corpus large enough that the bitmap actually
    prunes, plus a pathological fpp to force false positives through the
    prefilter."""
    from firebase_etl_spark.operators.contamination import (
        bloom_ngram_overlap,
        ngram_overlap,
    )

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 43}" for j in range(12)), f"s{i % 3}")
        for i in range(120)
    ]
    corpus = spark.createDataFrame(
        [r for r in rows if r[0] % 5 != 0],
        "doc_id long, text string, source string",
    )
    probes = spark.createDataFrame(
        [r for r in rows if r[0] % 5 == 0],
        "doc_id long, text string, source string",
    )
    exact = {
        r["doc_id"]: r["overlap"]
        for r in ngram_overlap(corpus, probes, n=3).collect()
    }
    assert exact, "fixture must produce non-trivial overlap"
    for fpp in (0.01, 0.5):  # 0.5 => tiny bitmap, many false positives
        got = {
            r["doc_id"]: r["overlap"]
            for r in bloom_ngram_overlap(
                corpus, probes, n=3, fpp=fpp
            ).collect()
        }
        assert got == exact


def test_dsir_log_weights_favor_target_vocabulary(spark):
    """DSIR log weights (Xie et al. 2023 shape): docs written in the
    target slice's vocabulary must outweigh docs in disjoint vocabulary,
    a doc mixing both lands between, and weights are finite even for
    words absent from the target (add-1 smoothing)."""
    from firebase_etl_spark.operators.dsir import dsir_log_weights
    from pyspark.sql import functions as F

    docs = [
        (1, "alpha beta alpha beta gamma", True),
        (2, "alpha beta gamma alpha beta", True),
        (3, "zork quux blarg zork quux", False),
        (4, "alpha beta zork quux gamma", False),  # mixed
        (5, "alpha beta alpha beta gamma", False),  # target-like text
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, tgt boolean")
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(df, target=F.col("tgt")).collect()
    }
    assert set(w) == {1, 2, 3, 4, 5}
    assert all(v == v and abs(v) < 1e6 for v in w.values())  # finite
    # same text scores the same regardless of the doc's own target flag
    assert w[1] == w[5]
    # target-vocab docs > mixed > disjoint-vocab doc
    assert w[1] > w[4] > w[3]


def test_dsir_weights_partition_invariant(spark, sf_dir):
    """The r4 driver snapshot caught documents_dsir_weights flipping its
    value hash between runs — a double sum accumulating in task-schedule
    order at a 6-dp rounding boundary. The fix is the fixed-point BIGINT
    pattern (integer sums are associative); pin it by running the full
    driver query under different shuffle-partition settings and
    requiring BIT-IDENTICAL rows, doubles included."""
    from firebase_etl_spark.plans.queries_ext import documents_dsir_weights

    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    for n in ("3", "29"):
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            rows = documents_dsir_weights(spark, sf_dir).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        results.append([tuple(r) for r in rows])
    assert results[0] == results[1]
    assert len(results[0]) > 0


def test_bm25_topk_hand_computed(spark):
    """BM25 on a 4-doc corpus, checked against hand math. Query = doc 0's
    distinct terms {alpha, beta}. k1=1.2, b=0.75, Lucene idf
    ln(1 + (N - df + 0.5)/(df + 0.5))."""
    import math

    from firebase_etl_spark.operators.retrieval import bm25_topk

    docs = [
        (0, "alpha beta"),
        (1, "alpha alpha alpha gamma"),
        (2, "beta gamma delta epsilon"),
        (3, "gamma delta"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        (r["query_id"], r["doc_id"]): r
        for r in bm25_topk(df, [0], k=10).collect()
    }
    # docs 1 (alpha) and 2 (beta) match; doc 3 shares no term; doc 0 is
    # the query itself and excluded
    assert set(rows) == {(0, 1), (0, 2)}

    n, avgdl, k1, b = 4, 12 / 4, 1.2, 0.75

    def contrib(tf, dfreq, dl):
        idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
        tfc = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        return round(idf * tfc * 1e6 + 1e-9) / 1e6

    assert rows[(0, 1)]["n_terms"] == 1
    assert rows[(0, 1)]["score"] == pytest.approx(contrib(3, 2, 4), abs=2e-6)
    assert rows[(0, 2)]["n_terms"] == 1
    assert rows[(0, 2)]["score"] == pytest.approx(contrib(1, 2, 4), abs=2e-6)
    # alpha-heavy doc 1 outranks single-beta doc 2
    assert rows[(0, 1)]["rank"] == 1 and rows[(0, 2)]["rank"] == 2


def test_bm25_topk_partition_invariant(spark, sf_dir):
    """Scores are fixed-point BIGINT sums (the dsir pattern), so the full
    driver query must produce BIT-IDENTICAL rows, doubles included, under
    different shuffle-partition settings."""
    from firebase_etl_spark.plans.queries_ext import documents_bm25_topk

    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    for n in ("3", "29"):
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            rows = documents_bm25_topk(spark, sf_dir).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        results.append(sorted(tuple(r) for r in rows))
    assert results[0] == results[1]
    # 5 probes x up to 10 ranks, every probe matched something at sf0.001
    assert len(results[0]) > 0
    by_q = {}
    for q, d, n_terms, score, rank in results[0]:
        assert d != q and n_terms >= 1 and score > 0
        by_q.setdefault(q, []).append(rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_duplicate_window_report_hand_computed(spark):
    """k=3 windows on a corpus with a cross-doc duplicated phrase, a
    within-doc repeat, and a too-short doc."""
    from firebase_etl_spark.operators.text import duplicate_window_report

    docs = [
        # doc 0 and 1 share the window "the quick fox" (cross-doc dup)
        (0, "the quick fox ran away"),
        (1, "see the quick fox"),
        # doc 2 repeats "a b c" twice WITHIN itself (dup, not cross-doc)
        (2, "a b c a b c"),
        # doc 3: 2 tokens -> zero windows
        (3, "too short"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        r["doc_id"]: r for r in duplicate_window_report(df, k=3).collect()
    }
    assert set(rows) == {0, 1, 2, 3}
    # doc 0: windows = [the quick fox, quick fox ran, fox ran away]
    r0 = rows[0]
    assert r0["n_windows"] == 3
    assert r0["n_dup_windows"] == 1 and r0["n_cross_doc_windows"] == 1
    assert r0["dup_fraction"] == pytest.approx(round(1 / 3, 6))
    # doc 1: windows = [see the quick, the quick fox]
    assert rows[1]["n_windows"] == 2
    assert rows[1]["n_dup_windows"] == 1
    # doc 2: windows = [a b c, b c a, c a b, a b c] -> "a b c" occurs
    # twice corpus-wide but only in ONE doc
    r2 = rows[2]
    assert r2["n_windows"] == 4
    assert r2["n_dup_windows"] == 2  # both instances of "a b c"
    assert r2["n_cross_doc_windows"] == 0
    assert r2["dup_fraction"] == pytest.approx(0.5)
    # doc 3: no full window
    assert tuple(rows[3])[1:] == (0, 0, 0, 0.0)


def test_label_centroid_confusion_separable(spark):
    """Two orthogonal clusters classify perfectly; one mislabeled vector
    lands off-diagonal."""
    from firebase_etl_spark.operators.classify import (
        label_centroid_confusion,
    )

    rows = [
        (0, [1.0, 0.0, 0.1], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [1.0, 0.1, 0.1], 0),
        (3, [0.0, 1.0, 0.1], 1),
        (4, [0.1, 0.9, 0.0], 1),
        # labeled 1 but sits in cluster 0 -> predicted 0
        (5, [1.0, 0.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r["label"], r["pred_label"]): r["n_vecs"]
        for r in label_centroid_confusion(df).collect()
    }
    # centroid 1 is dragged toward cluster 0 by the mislabeled vector,
    # but vectors 0-2 still sit closer to centroid 0 and 3-4 to 1
    assert got[(0, 0)] == 3 and got[(1, 1)] == 2
    assert got[(1, 0)] == 1 and (0, 1) not in got


def test_label_centroid_confusion_partition_invariant(spark, sf_dir):
    """Centroid sums and avg_cos are fixed-point BIGINT sums — the full
    driver query must be bit-identical across partitionings."""
    from firebase_etl_spark.plans.queries_ext import (
        embedding_label_centroids,
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    for n in ("3", "29"):
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            rows = embedding_label_centroids(spark, sf_dir).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        results.append([tuple(r) for r in rows])
    assert results[0] == results[1]
    assert len(results[0]) > 0
    assert all(r[2] > 0 for r in results[0])


def test_knn_label_agreement_contract(spark, sf_dir):
    from firebase_etl_spark.plans.queries_ext import (
        embedding_knn_label_agreement,
    )

    rows = embedding_knn_label_agreement(spark, sf_dir).collect()
    assert [r["query_id"] for r in rows] == [0, 1, 2, 3, 4]
    for r in rows:
        assert r["n_neighbors"] == 10
        assert 0 <= r["n_same_label"] <= 10
        assert r["agreement"] == round(r["n_same_label"] / 10, 4)


def test_mutual_knn_reciprocity_on_planted_clusters(spark):
    """Two tight clusters + one isolate: with k=2 every within-cluster
    pair is mutual, no cross-cluster pair appears, and the isolate (in
    others' lists only as filler, never reciprocated at rank<=2 both
    ways... ) — assert the planted structure exactly."""
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.similarity import mutual_knn_pairs

    rows = [
        (1, [1.0, 0.01, 0.0]),
        (2, [1.0, 0.02, 0.0]),
        (3, [1.0, 0.00, 0.02]),
        (10, [0.0, 1.0, 0.01]),
        (11, [0.01, 1.0, 0.0]),
        (12, [0.0, 1.0, 0.02]),
        (99, [0.0, 0.0, -1.0]),  # isolate: anti-aligned to everything
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"]): (r["rank_ab"], r["rank_ba"])
        for r in mutual_knn_pairs(df, F.lit(True), k=2).collect()
    }
    for a, b in got:
        assert (a < 99 and b < 99), "isolate must not appear"
        assert (a < 10) == (b < 10), "no cross-cluster mutual pairs"
    # every within-cluster pair is mutual at k=2 (cluster size 3)
    assert set(got) == {(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12)}
    for rab, rba in got.values():
        assert 1 <= rab <= 2 and 1 <= rba <= 2


def test_knn_distance_report_flags_planted_outlier(spark):
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.similarity import knn_distance_report

    rows = [(i, [1.0, i * 0.001, 0.0]) for i in range(8)]
    rows.append((99, [0.0, 0.0, 1.0]))  # orthogonal outlier
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rep = {
        r["query_id"]: r
        for r in knn_distance_report(
            df, F.lit(True), k=3, isolation_threshold=0.5
        ).collect()
    }
    assert rep[99]["is_isolated"] and not rep[0]["is_isolated"]
    assert rep[99]["kth_sim"] < 0.1 < 0.9 < rep[0]["kth_sim"]
    for r in rep.values():
        assert r["top1_sim"] >= r["mean_topk_sim"] >= r["kth_sim"]


def test_hybrid_rrf_fuses_both_rankings(spark, sf_dir):
    from firebase_etl_spark.plans.queries_ext import documents_hybrid_rrf

    rows = documents_hybrid_rrf(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert (r["sparse_rank"] is not None) or (r["dense_rank"] is not None)
        expected = round(
            (1.0 / (60 + r["sparse_rank"]) if r["sparse_rank"] else 0.0)
            + (1.0 / (60 + r["dense_rank"]) if r["dense_rank"] else 0.0),
            6,
        )
        assert r["rrf_score"] == pytest.approx(expected, abs=1e-9)
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # fused order is by score desc then doc_id
        rs_sorted = sorted(rs, key=lambda r: (-r["rrf_score"], r["doc_id"]))
        assert [r["rank"] for r in rs_sorted] == ranks
        # a doc present in BOTH rankings outranks one present in neither
        both = [r for r in rs if r["sparse_rank"] and r["dense_rank"]]
        only = [r for r in rs if (r["sparse_rank"] is None) != (r["dense_rank"] is None)]
        if both and only:
            assert min(r["rrf_score"] for r in both) >= 0  # sanity


def test_pmi_collocations_hand_computed(spark):
    """PMI on a corpus where one bigram is a true collocation."""
    import math

    from firebase_etl_spark.operators.lm import pmi_collocations

    # "new york" always adjacent (5x); "the cat"/"the dog" dilute "the"
    docs = [
        (0, "new york new york new york"),
        (1, "new york new york the cat"),
        (2, "the dog saw the cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = pmi_collocations(df, min_count=2, k=5).collect()
    got = {(r["w1"], r["w2"]): r for r in rows}
    assert ("new", "york") in got
    r = got[("new", "york")]
    # counts: corpus T=6+6+5=17 tokens, B=5+5+4=14 bigrams;
    # c12(new,york)=5, c(new)=5, c(york)=5
    assert r["c12"] == 5
    expected = round(math.log((5 / 14) / ((5 / 17) * (5 / 17))), 6)
    assert r["pmi"] == pytest.approx(expected, abs=2e-6)
    # ordering: top row has the max pmi
    assert rows[0]["pmi"] == max(x["pmi"] for x in rows)


def test_prefix_filter_equals_brute_force(spark, sf_dir):
    """The prefix filter is LOSSLESS: its output must equal the O(n^2)
    exact join exactly — pairs, values, everything."""
    from firebase_etl_spark.operators.dedup_approx import (
        brute_force_near_dups,
        prefix_filter_near_dups,
    )
    from firebase_etl_spark.sources.tables import load_table

    d = load_table(spark, "documents", sf_dir)
    pf = sorted(
        map(tuple, prefix_filter_near_dups(d, 0.5, 2).collect())
    )
    bf = sorted(
        map(
            tuple,
            brute_force_near_dups(d, 0.5, 2)
            .select("id_a", "id_b", "jaccard")
            .collect(),
        )
    )
    assert pf == bf


def test_prefix_filter_hand_case(spark):
    from firebase_etl_spark.operators.dedup_approx import (
        prefix_filter_near_dups,
    )

    docs = [
        (0, "a b c d e"),           # shingles {ab,bc,cd,de}
        (1, "a b c d x"),           # {ab,bc,cd,dx}: inter 3, union 5
        (2, "p q r s t"),           # disjoint
        (3, "a b c d e"),           # duplicate of 0: jaccard 1.0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_near_dups(df, 0.5, 2).collect()
    }
    assert got == {(0, 1): 0.6, (0, 3): 1.0, (1, 3): 0.6}


def test_near_dup_bucket_cap_bounds_emission_and_reports(spark):
    """The banded-subset mode (VERDICT r6 #6): an adversarial cluster of
    m mutual dups emits O(m²) pairs uncapped; with max_bucket_docs=k
    the emission is bounded, the surviving pairs are EXACTLY the ones
    among each bucket's k id-lowest members (a subset of the uncapped
    result — never a fabricated pair), and the exact truncation counts
    are reported, never silent."""
    from firebase_etl_spark.operators.dedup_approx import (
        containment_near_dups,
        prefix_filter_near_dups,
    )

    m = 12
    docs = [(i, "a b c d e f") for i in range(m)] + [
        (100, "p q r s t u"),
        (101, "p q r s t x"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    full = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_near_dups(df, 0.5, 2).collect()
    }
    assert len([p for p in full if p[0] < m and p[1] < m]) == m * (m - 1) / 2

    trunc: dict = {}
    capped = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_near_dups(
            df, 0.5, 2, max_bucket_docs=4, truncation=trunc
        ).collect()
    }
    assert capped <= full  # bounded-recall, no fabricated pairs
    # the cluster's 4 id-lowest members still pair among themselves
    # (every shared bucket keeps the same id-lowest postings)
    assert {(a, b) for a in range(4) for b in range(a + 1, 4)} <= capped
    # members beyond the cap emit no cluster pairs
    assert not [p for p in capped if p[1] >= 4 and p[1] < m]
    # the small healthy cluster is untouched
    assert (100, 101) in capped
    assert trunc["postings_dropped"] > 0
    assert trunc["buckets_truncated"] > 0

    tc: dict = {}
    got = containment_near_dups(
        df, 0.8, 2, max_bucket_docs=4, truncation=tc
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    # contained-side capping: pairs only among the 4 id-lowest postings
    assert {(a, b) for a in range(4) for b in range(4) if a != b} <= pairs
    assert not [p for p in pairs if p[0] < m and p[1] in range(4, m)]
    assert tc["postings_dropped"] > 0


def test_curation_v2_surfaces_truncation_count(spark):
    """documents_curation_v2's report schema carries the no-silent-caps
    column: 0 uncapped, > 0 when the cap actually dropped postings."""
    from firebase_etl_spark.plans.queries_ext import documents_curation_v2

    sf = "/root/testdata/sf0.001"
    un = documents_curation_v2(spark, sf).collect()
    assert all(r["trunc_postings_dropped"] == 0 for r in un)
    capped = documents_curation_v2(spark, sf, max_bucket_docs=1).collect()
    assert all(
        r["trunc_postings_dropped"] == capped[0]["trunc_postings_dropped"]
        for r in capped
    )
    assert capped[0]["trunc_postings_dropped"] > 0


def test_source_drift_identical_and_shifted(spark):
    """A group drawn from the corpus shape scores near 0; a disjoint
    range scores near 1."""
    from firebase_etl_spark.operators.stats import source_drift_report

    rows = (
        # srcA and srcB: same values -> identical histograms
        [(i, "srcA", 100 + (i % 10) * 10) for i in range(50)]
        + [(i + 50, "srcB", 100 + (i % 10) * 10) for i in range(50)]
        # srcC: values in a disjoint band
        + [(i + 100, "srcC", 900 + (i % 5)) for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {
        r["source"]: r for r in source_drift_report(df).collect()
    }
    assert set(got) == {"srcA", "srcB", "srcC"}
    assert got["srcA"]["tv_distance"] == got["srcB"]["tv_distance"]
    # A/B match each other but NOT the corpus (C pulls the mix): their
    # distance equals |2/3 - 1| * ... bounded well below C's
    assert got["srcC"]["tv_distance"] > 0.6
    assert got["srcA"]["tv_distance"] < got["srcC"]["tv_distance"]
    for r in got.values():
        assert 0.0 <= r["tv_distance"] <= 1.0
        assert r["n_docs"] == 50


def test_heavy_hitters_mg_skewed_fixture(spark):
    """MG on a skewed stream: the dominant values surface with the exact
    counts and the bound holds; output is partitioning-invariant because
    only exact counts + the guaranteed boolean are emitted."""
    from firebase_etl_spark.operators.heavy_hitters import (
        heavy_hitters_report,
    )

    rows = (
        [("hot",)] * 500
        + [("warm",)] * 200
        + [(f"cold{i % 40}",) for i in range(300)]
    )
    df = spark.createDataFrame(rows, "v string").repartition(7)
    out = heavy_hitters_report(df, "v", k_counters=8, top=3).collect()
    assert [(r["value"], r["n_exact"]) for r in out[:2]] == [
        ("hot", 500),
        ("warm", 200),
    ]
    assert all(r["within_bound"] for r in out)
    # invariance across partitionings (exact side + guaranteed boolean)
    out13 = heavy_hitters_report(
        df.repartition(13), "v", k_counters=8, top=3
    ).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out13]


def test_kcenter_seeds_hand_case(spark):
    """Hand-checkable greedy maximin in 2D: unit vectors at 0°, 5°,
    90°, 180°. Start at lowest id (0°); the farthest point is 180°
    (cos -1, dist 2e6); next is 90° (dist 1e6 to both); 5° is never
    picked at k=3 and sets the coverage radius."""
    import math as m

    from firebase_etl_spark.operators.clustering import kcenter_seeds

    def vec(deg):
        return [m.cos(m.radians(deg)), m.sin(m.radians(deg))]

    rows = [(0, vec(0)), (1, vec(5)), (2, vec(90)), (3, vec(180))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kcenter_seeds(df, k=3).collect()
    assert [(r["seed_rank"], r["vec_id"]) for r in out] == [
        (0, 0), (1, 3), (2, 2)
    ]
    assert out[0]["sel_dist_e6"] == 2_000_000
    assert out[1]["sel_dist_e6"] == 2_000_000  # cos(180°) = -1
    assert out[2]["sel_dist_e6"] == 1_000_000  # cos(90°) = 0
    # sel distances are monotonically non-increasing by construction
    sels = [r["sel_dist_e6"] for r in out]
    assert sels == sorted(sels, reverse=True)
    # with seeds {0°, 90°, 180°} the only uncovered point is 5°:
    # radius = 1e6 * (1 - cos 5°) rounded at 6dp
    want = 1_000_000 - round(round(m.cos(m.radians(5)), 6) * 1e6)
    assert out[0]["cover_radius_e6"] == want
    assert all(r["cover_radius_e6"] == want for r in out)


def test_kcenter_seeds_corpus_smaller_than_k(spark):
    import pytest as _pytest

    from firebase_etl_spark.operators.clustering import kcenter_seeds

    df = spark.createDataFrame(
        [(7, [1.0, 0.0]), (9, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = kcenter_seeds(df, k=5).collect()
    assert [(r["seed_rank"], r["vec_id"]) for r in out] == [(0, 7), (1, 9)]
    assert out[0]["cover_radius_e6"] == 0  # every point IS a seed
    with _pytest.raises(ValueError, match="k >= 1"):
        kcenter_seeds(df, k=0)


def test_kmeans_label_report_separates_obvious_clusters(spark):
    """Two orthogonal bundles with distinct labels: k=2 Lloyd from the
    two lowest-id seeds (one per bundle) must land one pure cluster on
    each, and NULL labels count as -1 without breaking the mode."""
    from firebase_etl_spark.operators.clustering import kmeans_label_report

    rows = [
        (0, [1.0, 0.0, 0.1], 7),
        (1, [0.0, 1.0, 0.1], 9),
        (2, [0.9, 0.1, 0.0], 7),
        (3, [0.1, 1.1, 0.0], 9),
        (4, [1.1, 0.0, 0.2], 7),
        (5, [0.0, 0.9, 0.2], None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r["cluster"]: r for r in kmeans_label_report(df, k=2, n_iter=2).collect()
    }
    assert set(got) == {0, 1}
    assert got[0]["n_vecs"] == 3 and got[0]["majority_label"] == 7
    assert got[0]["purity"] == 1.0
    assert got[1]["n_vecs"] == 3 and got[1]["majority_label"] == 9
    # the NULL label counts as -1: purity is 2/3, not 1
    assert abs(got[1]["purity"] - 0.6667) < 1e-9
    assert all(r["avg_cos"] > 0.9 for r in got.values())


def test_kmeans_label_report_empty_and_zero_norm(spark):
    """Empty corpus returns the empty schema; zero-norm vectors are
    excluded from both fit and assignment (their cosine is undefined)."""
    from firebase_etl_spark.operators.clustering import kmeans_label_report

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert kmeans_label_report(empty, k=2, n_iter=1).collect() == []

    rows = [
        (0, [0.0, 0.0], 1),  # zero-norm: must vanish, not crash or skew
        (1, [1.0, 0.0], 1),
        (2, [0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = kmeans_label_report(df, k=2, n_iter=1).collect()
    assert sum(r["n_vecs"] for r in got) == 2


def test_kmeans_clusters_partition_invariant(spark, sf_dir):
    """Centroid sums, avg_cos and purity are fixed-point/integer — the
    full driver query must be bit-identical across partitionings."""
    from firebase_etl_spark.plans.queries_ext import (
        embedding_kmeans_clusters,
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    for n in ("3", "29"):
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            rows = embedding_kmeans_clusters(spark, sf_dir).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        results.append([tuple(r) for r in rows])
    assert results[0] == results[1]
    assert len(results[0]) > 0
    assert sum(r[1] for r in results[0]) > 0


def test_frequent_pairs_counts_support_lift(spark):
    """Hand fixture: pair (1,2) in 3 of 4 baskets, (1,3) in 2; duplicate
    lines inside a basket count once; singleton item 9 is a-priori
    pruned; lift reflects independence (item support products)."""
    from firebase_etl_spark.operators.basket import frequent_pairs

    rows = [
        (10, 1), (10, 1), (10, 2),          # dup line: counts once
        (11, 1), (11, 2), (11, 3),
        (12, 1), (12, 2), (12, 3),
        (13, 9),                            # singleton item: pruned
    ]
    df = spark.createDataFrame(rows, "ok long, pk long")
    got = frequent_pairs(df, "ok", "pk", min_support=2, top=10).collect()
    as_map = {(r["p1"], r["p2"]): r for r in got}
    assert set(as_map) == {(1, 2), (1, 3), (2, 3)}
    r12 = as_map[(1, 2)]
    assert r12["pair_count"] == 3 and r12["support"] == 0.75
    # lift(1,2) = (3 * 4) / (3 * 3)
    assert abs(r12["lift"] - round(12 / 9, 4)) < 1e-12
    r13 = as_map[(1, 3)]
    assert r13["pair_count"] == 2
    # ordering: count desc then keys
    assert [(r["p1"], r["p2"]) for r in got] == [(1, 2), (1, 3), (2, 3)]


def test_frequent_pairs_max_basket_size_guard(spark):
    """Oversized baskets are dropped wholesale before pair generation."""
    from firebase_etl_spark.operators.basket import frequent_pairs

    rows = (
        [(1, i) for i in range(10)]       # mega-basket: dropped at cap 5
        + [(2, 1), (2, 2), (3, 1), (3, 2)]
    )
    df = spark.createDataFrame(rows, "ok long, pk long")
    got = frequent_pairs(
        df, "ok", "pk", min_support=2, top=10, max_basket_size=5
    ).collect()
    assert [(r["p1"], r["p2"], r["pair_count"]) for r in got] == [(1, 2, 2)]
    # without the cap the mega-basket contributes its pairs
    got2 = frequent_pairs(df, "ok", "pk", min_support=2, top=100).collect()
    assert {(r["p1"], r["p2"]) for r in got2} >= {(1, 2)}
    assert as_pair_count(got2, 1, 2) == 3


def as_pair_count(rows, p1, p2):
    return next(r["pair_count"] for r in rows if r["p1"] == p1 and r["p2"] == p2)


def test_frequent_pairs_guard_caps_distinct_items_before_array_build(spark):
    """The mega-basket cap counts DISTINCT items (duplicate rows don't
    trip it — collect_set deduped them under the old post-build filter
    too), and it is enforced BEFORE collect_set: the basket-array
    aggregate's input is semi-join-pruned, so a degenerate basket never
    materializes its array in an aggregation buffer (VERDICT r11 #3)."""
    from firebase_etl_spark.operators.basket import (
        _basket_item_arrays,
        frequent_pairs,
    )

    rows = (
        [(1, i % 3) for i in range(30)]   # 30 rows, 3 DISTINCT: kept
        + [(2, i) for i in range(9)]      # 9 distinct: dropped at cap 5
        + [(3, 0), (3, 1), (4, 0), (4, 1)]
    )
    df = spark.createDataFrame(rows, "ok long, pk long")
    got = frequent_pairs(
        df, "ok", "pk", min_support=2, top=10, max_basket_size=5
    ).collect()
    # basket 1 survives (3 distinct <= 5) and pairs with baskets 3/4
    assert as_pair_count(got, 0, 1) == 3
    assert all({r["p1"], r["p2"]} <= {0, 1, 2} for r in got)
    # guard placement: the semi join sits BELOW the collect_set
    # aggregate (prune first, then build arrays)
    plan = _basket_item_arrays(
        df, "ok", "pk", max_basket_size=5
    )._jdf.queryExecution().executedPlan().toString()
    semi_at = plan.find("LeftSemi")
    agg_at = plan.find("collect_set")
    assert semi_at != -1 and agg_at != -1 and agg_at < semi_at  # deeper = later in toString


def test_triangle_stats_known_graph(spark):
    """K4 plus a pendant: 4 triangles, 15 wedges, clustering 0.8;
    duplicate and reversed edge rows collapse; self-loops drop."""
    from firebase_etl_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(5, 1), (1, 5), (2, 1), (3, 3)]  # rev dup + self-loop
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    row = triangle_stats(df).collect()[0]
    assert (
        row["n_nodes"],
        row["n_edges"],
        row["n_wedges"],
        row["n_triangles"],
    ) == (5, 7, 15, 4)
    assert row["clustering"] == 0.8


def test_triangle_stats_empty_and_triangle_free(spark):
    from firebase_etl_spark.operators.graph import triangle_stats

    empty = spark.createDataFrame([], "id_a long, id_b long")
    row = triangle_stats(empty).collect()[0]
    assert tuple(row) == (0, 0, 0, 0, 0.0)

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    row = triangle_stats(path).collect()[0]
    assert (row["n_triangles"], row["n_wedges"]) == (0, 2)
    assert row["clustering"] == 0.0


def test_triangle_stats_matches_bruteforce_random(spark):
    """Degree-ordered wedge counting must equal the naive all-triples
    census on a random graph (orientation is a cost device only)."""
    import itertools
    import random

    from firebase_etl_spark.operators.graph import triangle_stats

    rnd = random.Random(7)
    nodes = list(range(20))
    edges = {
        (a, b)
        for a in nodes
        for b in nodes
        if a < b and rnd.random() < 0.2
    }
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    row = triangle_stats(df).collect()[0]
    tri = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )
    assert tri > 0  # non-vacuous at this density
    assert row["n_triangles"] == tri
    assert row["n_edges"] == len(edges)


def test_passage_chunks_boundaries_and_overlap(spark):
    """Window/stride arithmetic: full windows except a short tail, the
    overlap region repeats verbatim, stride == chunk reconstructs the
    document exactly, and a short doc yields one whole-doc chunk."""
    import pytest as _pytest

    from firebase_etl_spark.operators.text import passage_chunks

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "tiny doc")], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in passage_chunks(df, chunk_tokens=4, stride=3).collect()
    }
    # doc 1: starts 0,3,6 full, then tail at 9 -> 1+ceil(6/3)=3? no:
    # 1 + ceil((10-4)/3) = 3 chunks, starts 0/3/6, last covers w6..w9
    d1 = [got[(1, i)] for i in range(3)]
    assert [r["start_tok"] for r in d1] == [0, 3, 6]
    assert [r["n_toks"] for r in d1] == [4, 4, 4]
    assert d1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert d1[1]["chunk_text"] == "w3 w4 w5 w6"  # overlap repeats w3
    assert d1[2]["chunk_text"] == "w6 w7 w8 w9"
    assert (1, 3) not in got
    # short doc: single chunk, whole text
    assert got[(2, 0)]["n_toks"] == 2
    assert got[(2, 0)]["chunk_text"] == "tiny doc"
    # stride == chunk: disjoint cover reconstructs the doc
    cover = passage_chunks(
        df.filter("doc_id = 1"), chunk_tokens=5, stride=5
    ).orderBy("chunk_idx").collect()
    assert " ".join(r["chunk_text"] for r in cover) == words
    with _pytest.raises(ValueError):
        passage_chunks(df, chunk_tokens=0, stride=3)


def test_neardup_ensemble_votes_consistent(spark, sf_dir):
    """Vote arithmetic and pair canonicalization: votes is the flag sum,
    flags are 0/1, pairs are id_a < id_b, the strongest consensus sorts
    first, and every consensus pair is also a single-signal pair."""
    from firebase_etl_spark.plans.queries_ext import doc_neardup_ensemble

    rows = doc_neardup_ensemble(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["votes"] == r["lex"] + r["fp"] + r["sem"]
        assert 1 <= r["votes"] <= 3
        assert r["id_a"] < r["id_b"]
        for f in ("lex", "fp", "sem"):
            assert r[f] in (0, 1)
    votes = [r["votes"] for r in rows]
    assert votes == sorted(votes, reverse=True)


def test_vocab_growth_first_appearance_accounting(spark):
    """New terms are credited to the bucket of their FIRST appearance
    only; cumulative vocab ends at the true distinct-term count; empty
    buckets appear as zero rows on the dense spine."""
    from firebase_etl_spark.operators.lm import vocab_growth_report

    rows = [
        (0, "a b c"),       # bucket 0 of 2 (ids 0..3 -> width 4)
        (1, "a b"),         # bucket 0: no new terms
        (3, "a d"),         # bucket 1: only d is new
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = vocab_growth_report(df, n_buckets=2).collect()
    assert [r["bucket"] for r in got] == [0, 1]
    assert [r["n_docs"] for r in got] == [2, 1]
    assert [r["new_terms"] for r in got] == [3, 1]
    assert [r["cum_vocab"] for r in got] == [3, 4]
    assert [r["cum_tokens"] for r in got] == [5, 7]


def test_unseen_mass_good_turing_numbers(spark):
    from firebase_etl_spark.operators.lm import unseen_mass_report

    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "a d d")], "doc_id long, text string"
    )
    r = unseen_mass_report(df).collect()[0]
    # counts: a=3, b=1, c=1, d=2 -> N=7, V=4, N1=2, N2=1
    assert (r["n_tokens"], r["vocab_size"]) == (7, 4)
    assert (r["n_singletons"], r["n_doubletons"]) == (2, 1)
    assert r["p_unseen"] == round(2 / 7, 6)
    assert r["singleton_frac"] == 0.5


def test_negative_samples_label_exclusion_and_salting(spark):
    """Negatives never share the anchor's label (null-safe: NULL-label
    candidates excluded), exactly k are drawn when available, the draw
    is repeatable, and a different salt yields a different draw."""
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.stats import negative_samples

    rows = [(i, i % 3 if i % 7 else None) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, label int")
    draw = lambda salt: [  # noqa: E731
        (r["anchor_id"], r["neg_id"], r["anchor_label"], r["neg_label"])
        for r in negative_samples(
            df, F.col("vec_id") % 10 == 1, "vec_id", "label", k=4, salt=salt
        ).collect()
    ]
    d1 = draw("neg")
    assert d1 == draw("neg"), "content-addressed draw must be repeatable"
    anchors = {a for a, *_ in d1}
    assert anchors == {1, 11, 21, 31}
    for a, n, al, nl in d1:
        assert nl is not None and nl != al and n != a
    per_anchor = {a: sum(1 for x in d1 if x[0] == a) for a in anchors}
    assert all(v == 4 for v in per_anchor.values())
    assert d1 != draw("epoch2"), "re-salting must give a fresh draw"


def test_incremental_merge_equals_recompute_any_split(spark):
    """Merging base+delta partials equals from-scratch partials for an
    arbitrary split, and the report derives the average from merged
    exact sums (NOT an average of averages — the planted skewed split
    would expose that bug)."""
    from datetime import date

    from firebase_etl_spark.operators import incremental as INC

    rows = [
        ("a", 10.10, date(2024, 1, 1)),
        ("a", 0.02, date(2024, 1, 5)),
        ("a", 99.99, date(2024, 2, 1)),
        ("b", 5.55, date(2024, 1, 2)),
    ]
    df = spark.createDataFrame(rows, "g string, amt double, d date")
    whole = INC.report(INC.partial_aggs(df, ["g"], "amt", "d"), ["g"])
    # skewed split: delta holds a single large 'a' row
    base = df.filter("d < '2024-02-01'")
    delta = df.filter("d >= '2024-02-01'")
    merged = INC.report(
        INC.merge_partials(
            [
                INC.partial_aggs(base, ["g"], "amt", "d"),
                INC.partial_aggs(delta, ["g"], "amt", "d"),
            ],
            ["g"],
        ),
        ["g"],
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    a = {r["g"]: r for r in merged.collect()}["a"]
    assert a["total_amount"] == 110.11
    assert a["avg_amount"] == round(11011 / 3 / 100.0, 6)
    assert (a["first_ts"], a["last_ts"]) == (date(2024, 1, 1), date(2024, 2, 1))


def test_cascade_purge_audit_walks_fk_chain(spark):
    """Hand-computed cascade: deleting user 1 purges their 2 orders and
    the 3 line items under those orders, but nothing of user 2's."""
    from firebase_etl_spark.operators.conflict import cascade_purge_audit

    users = spark.createDataFrame([(1,), (2,)], "uid long")
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "oid long, uid long"
    )
    items = spark.createDataFrame(
        [(10, "a"), (10, "b"), (11, "c"), (12, "d")], "oid long, sku string"
    )
    roots = users.filter("uid = 1")
    got = {
        r["table"]: (r["n_rows"], r["n_purged"], r["purge_rate"])
        for r in cascade_purge_audit(
            roots,
            "uid",
            [
                ("users", users, "uid", "uid"),
                ("orders", orders, "uid", "oid"),
                ("items", items, "oid", None),
            ],
        ).collect()
    }
    assert got == {
        "users": (2, 1, 0.5),
        "orders": (3, 2, round(2 / 3, 6)),
        "items": (4, 3, 0.75),
    }


def test_k_anonymity_ladder_counts(spark):
    """Hand-computed ladder: at k=3, the fine level exposes the two
    1-member classes; the coarse level is safe."""
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.pii import k_anonymity_report

    rows = [
        ("US", "A"), ("US", "A"), ("US", "A"),
        ("US", "B"),                      # 1-member class at fine level
        ("FR", "A"),                      # 1-member class at fine level
        ("FR", "B"), ("FR", "B"), ("FR", "B"),
    ]
    df = spark.createDataFrame(rows, "country string, seg string")
    out = {
        r["level"]: r
        for r in k_anonymity_report(
            df,
            [
                ("fine", [F.col("country"), F.col("seg")]),
                ("coarse", [F.col("country")]),
            ],
            k=3,
        ).collect()
    }
    fine, coarse = out["fine"], out["coarse"]
    assert (fine["n_rows"], fine["n_groups"], fine["min_group_size"]) == (8, 4, 1)
    assert (fine["n_risky_groups"], fine["n_risky_rows"]) == (2, 2)
    assert fine["risky_row_rate"] == 0.25
    assert (coarse["n_groups"], coarse["n_risky_groups"]) == (2, 0)
    assert coarse["risky_row_rate"] == 0.0


def test_decay_engagement_recency_beats_volume(spark):
    """Half-life weighting: 3 events today must outscore 10 events three
    half-lives ago (10 * 2^-3 = 1.25 < 3); the anchor is the table max,
    so an event AT the anchor contributes exactly 1.0."""
    from datetime import datetime

    from firebase_etl_spark.operators.stats import decay_engagement_scores

    t0 = datetime(2024, 3, 22)
    old = datetime(2024, 3, 1)  # 21 days = 3 half-lives earlier
    rows = [(i, t0, 1) for i in range(3)]
    rows += [(10 + i, old, 2) for i in range(10)]
    rows.append((99, t0, None))  # null key excluded
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id int")
    out = decay_engagement_scores(df, "ts", "user_id", 7.0, 10).collect()
    assert [r["user_id"] for r in out] == [1, 2]
    by_user = {r["user_id"]: r for r in out}
    assert by_user[1]["decay_score"] == 3.0
    assert by_user[2]["decay_score"] == round(10 * 0.5 ** 3, 6)
    assert by_user[2]["n_events"] == 10
    assert by_user[2]["last_seen"] == old


def test_zipf_slope_recovers_power_law(spark):
    """A synthetic corpus with term i repeated floor(1200/i) times is
    Zipfian with exponent -1: the regression must recover slope ~ -1
    with near-perfect fit, and the totals must be exact."""
    from firebase_etl_spark.operators.lm import zipf_slope_report

    words = []
    for i in range(1, 31):
        words += [f"t{i:02d}"] * (1200 // i)
    # split into docs of 40 tokens so the explode spans many rows
    docs = [
        (j, " ".join(words[j * 40 : (j + 1) * 40]))
        for j in range((len(words) + 39) // 40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = zipf_slope_report(df, top_n=30).collect()[0]
    assert r["n_tokens"] == len(words)
    assert r["vocab_size"] == 30
    assert r["n_top_terms"] == 30
    assert abs(r["zipf_slope"] + 1.0) < 0.05
    assert r["zipf_r2"] > 0.99


def test_weighted_sample_proportionality_and_formula(spark):
    """A 10000x-weight item must win nearly every k=1 redraw across
    salts; priorities match the Python md5/log replay exactly; zero,
    negative and NULL weights are excluded from the draw."""
    import hashlib
    import math

    from firebase_etl_spark.operators.stats import weighted_sample

    rows = [(i, 10000 if i == 0 else 1) for i in range(20)]
    df = spark.createDataFrame(rows, "k long, w long")
    wins = sum(
        weighted_sample(df, "w", 1, "k", salt=s).collect()[0]["k"] == 0
        for s in ("a", "b", "c", "d", "e")
    )
    assert wins >= 4

    got = weighted_sample(df, "w", 20, "k").collect()
    assert len(got) == 20
    for r in got:
        h = int(hashlib.md5(f"ws1{r['k']}".encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        assert r["priority"] == round(math.log(u) / r["w"], 9)

    bad = spark.createDataFrame(
        [(1, 0), (2, -5), (3, None), (4, 7)], "k long, w long"
    )
    kept = weighted_sample(bad, "w", 10, "k").collect()
    assert [r["k"] for r in kept] == [4]


def test_frequent_pairs_matches_bruteforce_random(spark):
    """Pair counts, support and lift must equal a driver-side
    brute-force recount on a random basket fixture (A-Priori pruning
    and the self-join are cost devices, not semantic ones)."""
    import itertools
    import random

    from firebase_etl_spark.operators.basket import frequent_pairs

    rnd = random.Random(11)
    baskets = {
        bk: set(rnd.sample(range(12), rnd.randint(1, 5)))
        for bk in range(40)
    }
    rows = [(bk, it) for bk, its in baskets.items() for it in its]
    df = spark.createDataFrame(rows, "ok long, pk long")
    got = {
        (r["p1"], r["p2"]): (r["pair_count"], r["support"], r["lift"])
        for r in frequent_pairs(df, "ok", "pk", min_support=2, top=1000).collect()
    }
    from collections import Counter

    pc = Counter()
    ic = Counter()
    for its in baskets.values():
        for it in its:
            ic[it] += 1
        for a, b in itertools.combinations(sorted(its), 2):
            pc[(a, b)] += 1
    want = {
        p: (
            c,
            round(c / len(baskets), 4),
            round((c * len(baskets)) / (ic[p[0]] * ic[p[1]]), 4),
        )
        for p, c in pc.items()
        if c >= 2
    }
    assert got == want and len(want) > 5


def test_grouped_split_no_group_straddles(spark, sf_dir):
    """The anti-leakage invariant itself: every source maps to exactly
    one split (at the real corpus), all three splits materialize, and
    the assignment is identical across partitionings."""
    from firebase_etl_spark.operators.stats import grouped_split
    from firebase_etl_spark.sources.tables import load_table

    d = load_table(spark, "documents", sf_dir)
    s = grouped_split(d, "source")
    from pyspark.sql import functions as FF

    per_source = (
        s.groupBy("source")
        .agg(FF.countDistinct("split").alias("k"))
        .collect()
    )
    assert per_source and all(r["k"] == 1 for r in per_source)
    splits = {r["split"] for r in s.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}
    a = sorted(map(tuple, s.select("doc_id", "split").collect()))
    b = sorted(map(tuple, s.repartition(13).select("doc_id", "split").collect()))
    assert a == b


def test_transition_matrix_hand_fixture(spark, tmp_path):
    """Known history: A->B->A->C for one user plus a single-event user
    (emits nothing). Rows sum to 1 per current type; ties at equal ts
    order by event_id."""
    import datetime as dt

    from firebase_etl_spark.plans.queries_ext import (
        events_transition_matrix,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "A", 0.0),
        (1, t0, 2, "B", 0.0),          # same ts: event_id orders it 2nd
        (1, dt.datetime(2024, 1, 2), 3, "A", 0.0),
        (1, dt.datetime(2024, 1, 3), 4, "C", 0.0),
        (2, t0, 5, "Z", 0.0),          # lone event: no transition
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string, value double"
    )
    p = str(tmp_path / "events.parquet")
    # stored as epoch microseconds, the long load_table reads events.ts as
    df.withColumn("ts", F.unix_micros("ts")).write.parquet(p)
    got = {
        (r["cur_type"], r["next_type"]): (r["n_transitions"], r["p_next"])
        for r in events_transition_matrix(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("A", "B"): (1, 0.5),
        ("A", "C"): (1, 0.5),
        ("B", "A"): (1, 1.0),
    }


def test_passage_chunks_gapped_stride_clamps(spark):
    """ADVICE r5 #3: stride > chunk_tokens (gapped chunking) used to
    compute a negative slice length on the last chunk and crash
    F.slice; the clamp emits an empty final chunk instead."""
    from firebase_etl_spark.operators.text import passage_chunks

    df = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    rows = {
        r["chunk_idx"]: r
        for r in passage_chunks(
            df, chunk_tokens=2, stride=5
        ).collect()
    }
    assert rows[0]["n_toks"] == 2 and rows[0]["chunk_text"] == "a b"
    assert all(r["n_toks"] >= 0 for r in rows.values())


def test_empty_spec_lists_raise_named_errors(spark):
    """ADVICE r5 #4: empty levels/chain/rules lists raise ValueError,
    not a bare IndexError from outs[0]."""
    import pytest as _pytest

    from firebase_etl_spark.operators.conflict import cascade_purge_audit
    from firebase_etl_spark.operators.pii import k_anonymity_report
    from firebase_etl_spark.operators.validate import table_contract_report

    df = spark.createDataFrame([(1,)], "a long")
    with _pytest.raises(ValueError, match="levels"):
        k_anonymity_report(df, [], k=2)
    with _pytest.raises(ValueError, match="chain"):
        cascade_purge_audit(df, "a", [])
    with _pytest.raises(ValueError, match="rules"):
        table_contract_report(df, [])


def test_kmeans_fit_skips_mixed_dimension_vectors(spark):
    """ADVICE r5 #2: vectors whose dimension differs from the seed
    centroids score NULL cells; the driver update loop must skip them
    instead of crashing on int(None)."""
    from firebase_etl_spark.operators.clustering import kmeans_fit

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [0.1, 0.9]),
        (4, [1.0, 0.0, 0.0]),  # stray 3-dim vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=2, n_iter=2)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)


def test_source_drift_ignores_null_values(spark):
    """ADVICE r5 #1: NULL value rows previously inflated the corpus
    normalizer while falling off the bin spine; they are now excluded
    up front, so adding NULL rows must not change any distance."""
    from firebase_etl_spark.operators.stats import source_drift_report

    base = [("s1", float(i)) for i in range(40)] + [
        ("s2", float(i % 10)) for i in range(40)
    ]
    clean = spark.createDataFrame(base, "source string, n_chars double")
    noisy = clean.unionByName(
        spark.createDataFrame(
            [("s1", None), ("s2", None), ("s2", None)],
            "source string, n_chars double",
        )
    )
    a = {
        r["source"]: (r["n_docs"], r["tv_distance"])
        for r in source_drift_report(clean).collect()
    }
    b = {
        r["source"]: (r["n_docs"], r["tv_distance"])
        for r in source_drift_report(noisy).collect()
    }
    assert a == b


def test_hashed_tf_topk_identical_docs_rank_first(spark):
    """Feature-hashed retrieval: an exact copy scores cosine 1.0 and
    ranks first; an unrelated doc scores lower; empty docs drop out."""
    from firebase_etl_spark.operators.similarity import (
        hashed_tf_sparse,
        hashed_tf_topk,
    )

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),          # exact copy of 0
        (2, "epsilon zeta eta theta"),          # disjoint vocab
        (3, "alpha beta something else here"),  # partial overlap
        (4, None),                               # NULL text -> no vector
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["cos_sim"])
        for r in hashed_tf_topk(df, [0], dim=32, k=3).collect()
    }
    assert got[(0, 1)][0] == 1 and abs(got[(0, 1)][1] - 1.0) < 1e-9
    assert got[(0, 2)][1] < 1.0
    ids = {r["doc_id"] for r in hashed_tf_sparse(df, 32).collect()}
    assert 4 not in ids


def test_mutual_information_independent_and_dependent(spark):
    """MI is ~0 for independent columns and ln(k) (ratio 1.0) for a
    bijection; constant columns yield NULL ratio."""
    from firebase_etl_spark.operators.stats import mutual_information

    dep = spark.createDataFrame(
        [(str(i % 4), chr(65 + i % 4)) for i in range(64)],
        "a string, b string",
    )
    r = mutual_information(dep, "a", "b").collect()[0]
    assert r["ka"] == 4 and r["kb"] == 4
    assert abs(r["mi_ratio"] - 1.0) < 1e-4
    import math as _math

    assert abs(r["mi_nats"] - _math.log(4)) < 1e-4

    ind = spark.createDataFrame(
        [(str(i % 2), str((i // 2) % 2)) for i in range(64)],
        "a string, b string",
    )
    r2 = mutual_information(ind, "a", "b").collect()[0]
    assert abs(r2["mi_nats"]) < 1e-6

    const = spark.createDataFrame(
        [("x", str(i % 3)) for i in range(9)], "a string, b string"
    )
    r3 = mutual_information(const, "a", "b").collect()[0]
    assert r3["mi_ratio"] is None and abs(r3["mi_nats"]) < 1e-6


def test_changepoint_scan_finds_planted_step(spark):
    """A planted level shift — 10 events/day for 20 days then 30/day
    for 20 days — must split exactly at the step boundary, with exact
    e2 segment means and the hand-computed gain."""
    from datetime import datetime, timedelta

    from firebase_etl_spark.operators.timeseries import changepoint_scan

    rows = []
    eid = 0
    base = datetime(2024, 1, 1, 12)
    for day in range(40):
        per = 10 if day < 20 else 30
        for _ in range(per):
            rows.append((eid, base + timedelta(days=day)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = changepoint_scan(df, "ts").collect()
    assert len(out) == 1
    r = out[0]
    assert str(r["split_day"]) == "2024-01-20"  # last day of regime 1
    assert r["n_days_before"] == 20 and r["n_days_after"] == 20
    assert r["mean_before_e2"] == 1000 and r["mean_after_e2"] == 3000
    # G = n1*n2/T * (m1-m2)^2 = 20*20/40 * 400 = 4000 exactly
    assert r["gain_stat"] == 4000


def test_changepoint_gain_big_branch_cross_engine(spark):
    """The overflow-safe gain expression (ADVICE r7): the |d| >= 2^31
    double branch must (a) not overflow int64 where the old d*d DIV
    form wrapped/raised, and (b) produce the identical BIGINT on Spark
    and DuckDB for the same integer inputs — the inputs are exact
    integers, so cast/multiply/divide/floor are bit-deterministic IEEE
    ops on both engines. Cases straddle the branch boundary."""
    import duckdb

    cases = [
        # (d, n1, n2, t_tot) — exact branch, boundary, deep double
        (2147483647, 20, 20, 40),
        (2147483648, 20, 20, 40),
        (3_000_000_000, 100, 900, 1000),
        (-3_000_000_000, 100, 900, 1000),
        (6_400_000_000_000, 500, 500, 1000),  # s_tot*T scale
        (123456789, 3, 37, 40),
    ]
    expr = (
        "CASE WHEN abs(d) < 2147483648"
        " THEN (d * d) {div} (n1 * n2 * t_tot)"
        " ELSE CAST(floor((CAST(d AS DOUBLE) * CAST(d AS DOUBLE))"
        " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        " * CAST(t_tot AS DOUBLE))) AS BIGINT) END"
    )
    df = spark.createDataFrame(
        cases, "d long, n1 long, n2 long, t_tot long"
    )
    got_spark = [
        r[0]
        for r in df.select(
            F.expr(expr.format(div="DIV")).alias("g")
        ).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT "
            + expr.format(div="//")
            + f" FROM (SELECT CAST({d} AS BIGINT) d, {n1} n1,"
            f" {n2} n2, {t} t_tot)"
        ).fetchone()[0]
        for d, n1, n2, t in cases
    ]
    assert got_spark == got_duck
    # sanity: the deep-double case is far beyond the old int64 wrap
    assert got_spark[4] == 163_840_000_000_000_000


def test_changepoint_scan_flat_series_ties_to_earliest(spark):
    from datetime import datetime, timedelta

    from firebase_etl_spark.operators.timeseries import changepoint_scan

    base = datetime(2024, 3, 1)
    rows = [
        (d * 5 + i, base + timedelta(days=d))
        for d in range(10)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    r = changepoint_scan(df, "ts").collect()[0]
    assert r["gain_stat"] == 0  # no shift anywhere
    assert str(r["split_day"]) == "2024-03-01"  # tie -> earliest day


def test_dow_profile_hand_computed(spark):
    """Two full weeks, 10 events on weekdays and 40 on weekends: each
    weekday row must carry its exact mean and zero residuals (two
    identical weeks), with Monday=0 anchoring the epoch arithmetic."""
    from datetime import datetime, timedelta

    from firebase_etl_spark.operators.timeseries import dow_profile

    base = datetime(2024, 1, 1, 6)  # 2024-01-01 is a Monday
    rows, eid = [], 0
    for day in range(14):
        per = 40 if day % 7 in (5, 6) else 10
        for _ in range(per):
            rows.append((eid, base + timedelta(days=day)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = {r["dow"]: r for r in dow_profile(df, "ts").collect()}
    assert sorted(got) == list(range(7))
    for dow in range(7):
        r = got[dow]
        per = 40 if dow in (5, 6) else 10
        assert r["n_days"] == 2
        assert r["total_events"] == 2 * per
        assert r["mean_per_day_e2"] == per * 100
        # identical weeks -> zero residual everywhere
        assert r["sum_abs_resid_e2"] == 0
        assert r["max_resid_e2"] == 0 and r["min_resid_e2"] == 0
        assert r["n_days_above_mean"] == 0


def test_km_curve_hand_computed(spark):
    """Textbook Kaplan-Meier: events at 1, 3, 3, 5; censored at 2, 4.
    S = 1, 5/6, 5/6, 5/12, 5/12, 0."""
    from firebase_etl_spark.operators.timeseries import km_curve

    rows = [
        (1, True), (2, False), (3, True),
        (3, True), (4, False), (5, True),
    ]
    df = spark.createDataFrame(rows, "dur long, is_event boolean")
    got = {r["t"]: r for r in km_curve(df).collect()}
    assert [got[t]["n_at_risk"] for t in range(6)] == [6, 6, 5, 4, 2, 1]
    assert [got[t]["n_events"] for t in range(6)] == [0, 1, 0, 2, 0, 1]
    assert [got[t]["n_censored"] for t in range(6)] == [0, 0, 1, 0, 1, 0]
    exp = [1.0, 5 / 6, 5 / 6, 5 / 12, 5 / 12, 0.0]
    for t in range(6):
        assert abs(got[t]["survival"] - exp[t]) < 2e-6, (t, got[t])


def test_logrank_null_and_separated_cohorts(spark):
    """Log-rank: identical cohorts give chi2 ~ 0; completely separated
    hazards give a large chi2; O-E signs are coherent."""
    from firebase_etl_spark.operators.timeseries import logrank_test

    same = [(d, True, g) for g in (0, 1) for d in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(
        same, "dur long, is_event boolean, grp long"
    )
    r = logrank_test(df).collect()[0]
    assert abs(r["observed_minus_expected"]) < 1e-6
    assert r["chi2"] is not None and r["chi2"] < 1e-6
    assert (r["n_a"], r["n_b"]) == (5, 5)

    sep = [(d, True, 0) for d in (1, 1, 2, 2)] + [
        (d, True, 1) for d in (8, 8, 9, 9)
    ]
    df2 = spark.createDataFrame(
        sep, "dur long, is_event boolean, grp long"
    )
    r2 = logrank_test(df2).collect()[0]
    assert r2["chi2"] > 3.84  # beyond the 5% chi-square(1) critical value
    assert r2["observed_minus_expected"] > 0  # arm 0 dies early

    import pytest as _pytest

    one = spark.createDataFrame(
        [(1, True, 0)], "dur long, is_event boolean, grp long"
    )
    with _pytest.raises(ValueError, match="two grp"):
        logrank_test(one)


def test_encoding_artifact_counts_detects_planted_mojibake(spark):
    """Planted corruption is counted exactly; clean text is all zeros."""
    from firebase_etl_spark.operators.quality import (
        encoding_artifact_counts,
    )

    rows = [
        (0, "perfectly clean ascii text"),
        (1, "bad decode � here and � there"),
        (2, "cafÃ© menÃº"),      # 'Ã©' 'Ãº' mojibake
        (3, "ctrl\x01 bytes\x1f here\x7f"),
        (4, "tab\tand\nnewline are fine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in encoding_artifact_counts(df).collect()}
    assert got[0]["n_replacement"] == got[0]["n_control"] == got[0]["n_mojibake"] == 0
    assert got[1]["n_replacement"] == 2
    assert got[2]["n_mojibake"] == 2
    assert got[3]["n_control"] == 3
    assert got[4]["n_control"] == 0  # \t and \n are text, not corruption


def test_target_coverage_hand_case(spark):
    """Probe A's trigrams are fully present in the corpus, probe B's
    only half: coverage accounting is exact, fully-covered counted."""
    from firebase_etl_spark.operators.contamination import (
        target_coverage_report,
    )

    corpus = spark.createDataFrame(
        [
            (1, "a b c d", "en"),          # grams: "a b c", "b c d"
            (2, "x y z", "en"),            # gram: "x y z"
        ],
        "doc_id long, text string, lang string",
    )
    probes = spark.createDataFrame(
        [
            (10, "a b c d", "en"),         # both grams covered
            (11, "x y z q r", "en"),       # "x y z" covered; 2 others not
        ],
        "doc_id long, text string, lang string",
    )
    out = target_coverage_report(corpus, probes, n=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["lang"] == "en" and r["n_probes"] == 2
    assert r["total_grams"] == 5 and r["covered_grams"] == 3
    assert r["n_fully_covered"] == 1
    assert r["gram_coverage_e6"] == 600000
    assert r["min_coverage_e6"] == 333333  # 1/3 floored


def test_psi_drift_identical_and_shifted_halves(spark):
    """Identical early/late value multisets give PSI exactly 0
    (smoothed shares cancel bin by bin); a late half shifted into a
    disjoint band is a major drift."""
    from datetime import datetime, timedelta

    from firebase_etl_spark.operators.stats import psi_drift_report

    base = datetime(2024, 5, 1)
    rows = []
    eid = 0
    # group 'same': values 0..99 early AND late
    for half, day in ((True, 0), (False, 30)):
        for v in range(100):
            rows.append((eid, base + timedelta(days=day), "same", float(v)))
            eid += 1
    # group 'shift': 0..99 early, 1000..1099 late
    for v in range(100):
        rows.append((eid, base, "shift", float(v))); eid += 1
    for v in range(100):
        rows.append(
            (eid, base + timedelta(days=30), "shift", float(v + 1000))
        )
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {r["event_type"]: r for r in psi_drift_report(df).collect()}
    assert got["same"]["psi_e6"] == 0
    assert got["same"]["drift_level"] == "stable"
    assert got["same"]["n_ref"] == 100 and got["same"]["n_cur"] == 100
    assert got["shift"]["drift_level"] == "major"
    assert got["shift"]["psi_e6"] > 1_000_000  # every row changed bins


def test_kneser_ney_hand_computed(spark):
    """Textbook KN check on 'a b a b a c': d=1/2 interpolated
    probabilities match the hand-derived integer ratios (22/36, 20/24,
    10/36) and the per-doc mean log2 matches to fixed-point
    resolution."""
    import math as m

    from firebase_etl_spark.operators.lm import kneser_ney_scores

    df = spark.createDataFrame(
        [(1, "a b a b a c")], "doc_id long, text string"
    )
    r = kneser_ney_scores(df).collect()[0]
    assert r["n_bigrams"] == 5
    want = (
        2 * m.log2(22 / 36) + 2 * m.log2(20 / 24) + m.log2(10 / 36)
    ) / 5
    assert abs(r["avg_lg2_e6"] / 1e6 - want) < 2e-6


def test_kneser_ney_orders_fluency_like_addk(spark):
    """Repetitive (predictable) text scores higher than a one-off
    jumble under KN, mirroring the add-k screen's ordering."""
    from firebase_etl_spark.operators.lm import kneser_ney_scores

    rows = [(i, "the cat sat on the mat " * 4) for i in range(8)]
    rows.append((99, "qz wv xj pk fh dm bn lr"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["avg_lg2_e6"] for r in kneser_ney_scores(df).collect()}
    assert got[99] < min(got[i] for i in range(8))


def test_shapley_attribution_hand_case(spark):
    """Two channels, hand-solved game: journeys {A}:1 and {A,B}:1 give
    phi_A = 1.5, phi_B = 0.5 (x2! = 3 and 1), efficiency sums to
    v_full = 2."""
    from datetime import datetime, timedelta

    from firebase_etl_spark.operators.stats import shapley_attribution

    t0 = datetime(2024, 6, 1)
    rows = [
        (1, 10, "A", t0), (2, 10, "buy", t0 + timedelta(hours=1)),
        (3, 20, "A", t0), (4, 20, "B", t0 + timedelta(minutes=5)),
        (5, 20, "buy", t0 + timedelta(hours=2)),
        (6, 30, "B", t0),                       # touched but never buys
        (7, 40, "buy", t0),                     # empty journey: excluded
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        r["channel"]: r
        for r in shapley_attribution(df, ["A", "B"], "buy").collect()
    }
    assert got["A"]["phi_fact"] == 3 and got["B"]["phi_fact"] == 1
    assert got["A"]["phi_e6"] == 1_500_000
    assert got["B"]["phi_e6"] == 500_000
    assert all(r["v_full"] == 2 for r in got.values())
    # efficiency axiom: sum(phi) * n! == v_full * n!
    assert sum(r["phi_fact"] for r in got.values()) == 2 * 2


def test_shapley_attribution_efficiency_on_fixture(spark, sf_dir):
    from firebase_etl_spark.operators.stats import shapley_attribution
    from firebase_etl_spark.sources.tables import load_table

    e = load_table(spark, "events", sf_dir)
    out = shapley_attribution(
        e, ["click", "error", "signup", "view"], "purchase"
    ).collect()
    assert len(out) == 4
    import math as m

    assert sum(r["phi_fact"] for r in out) == out[0]["v_full"] * m.factorial(4)
    assert all(r["phi_fact"] >= 0 for r in out)


def test_similarity_histogram_buckets_hand_case(spark):
    """Pairs land in the right deciles: an exact duplicate in bucket 10,
    a 0.6-Jaccard pair in bucket 6, a 1/3 pair in bucket 3."""
    from firebase_etl_spark.plans.queries_ext import doc_similarity_histogram

    # build a tiny sf_dir-like table by monkey-friendly direct call:
    # reuse the operator composition through a temp view is overkill -
    # call prefix filter directly with the same bucketing
    from firebase_etl_spark.operators import dedup_approx as DA
    from pyspark.sql import functions as F

    docs = [
        (0, "a b c d e f"),   # shingles {abc,bcd,cde,def}
        (1, "a b c d e f"),   # dup of 0: j=1.0 -> bucket 10
        (2, "a b c d x y"),   # vs 0: inter {abc,bcd}=2, union 6 -> 1/3
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = DA.prefix_filter_near_dups(df, threshold=0.3, shingle_n=3)
    bucket = F.expr(
        "CASE WHEN jaccard >= 1.0 THEN 10"
        " ELSE CAST(floor(jaccard * 10) AS INT) END"
    )
    got = {
        r["sim_decile"]: r["n"]
        for r in pairs.groupBy(bucket.alias("sim_decile"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got[10] == 1       # the exact dup
    assert got[3] == 2        # (0,2) and (1,2) at j = 0.333333
    assert set(got) == {3, 10}


def test_markov_attribution_hand_computed(spark):
    """Two-user chain solved by hand: user A start->click->conv, user B
    start->view->null. p(conv) = 0.5 (the start state splits 50/50 and
    only the click branch absorbs to conv); removing click kills ALL
    conversion (effect 1.0), removing view changes nothing (effect 0),
    so click takes the whole attribution share."""
    from datetime import datetime, timedelta

    from firebase_etl_spark.operators.stats import markov_attribution

    t0 = datetime(2024, 5, 1)
    rows = [
        (1, "ua", "click", t0),
        (2, "ua", "purchase", t0 + timedelta(minutes=5)),
        (3, "ub", "view", t0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string,"
        " ts timestamp"
    )
    out = {
        r["channel"]: r
        for r in markov_attribution(
            df, ["click", "error", "signup", "view"], "purchase"
        ).collect()
    }
    assert out["click"]["p_conv_full_e9"] == 500_000_000
    assert out["click"]["p_conv_removed_e9"] == 0
    assert out["click"]["removal_effect_e6"] == 1_000_000
    assert out["click"]["attribution_e6"] == 1_000_000
    assert out["view"]["removal_effect_e6"] == 0
    assert out["view"]["attribution_e6"] == 0
    assert out["error"]["n_from"] == 0
    # efficiency sanity: n_from counts outgoing transitions (full chain)
    assert out["click"]["n_from"] == 1 and out["view"]["n_from"] == 1


def test_fellegi_sunter_bands_and_truth(spark):
    """F-S scoring on the dirty-CRM fixture at sf0.001: true
    self-matches (all four comparators agree) must land in the 'match'
    band, every band's score stats must be internally consistent, and
    the two-threshold rule must be exhaustive over blocked pairs."""
    from firebase_etl_spark.operators.linkage import fellegi_sunter_report
    from firebase_etl_spark.sources.tables import load_table

    c = load_table(spark, "customer", "/root/testdata/sf0.001")
    out = {r["band"]: r for r in fellegi_sunter_report(c).collect()}
    assert "match" in out, f"no match band: {out}"
    m = out["match"]
    assert m["n_true_match"] >= 1
    assert m["min_score_e6"] >= 10_000_000
    for band, r in out.items():
        assert r["min_score_e6"] <= r["max_score_e6"]
        assert r["n_true_match"] <= r["n_pairs"]
    # truth lands overwhelmingly in 'match': a self pair agrees on all
    # four comparators, so its score is the maximal weight sum
    below = sum(
        r["n_true_match"] for b, r in out.items() if b != "match"
    )
    assert below == 0, f"true matches leaked out of the match band: {out}"


def test_mmr_topk_hand_case(spark):
    """Hand-checkable MMR in 2D: probe at 0 deg; candidates at 10 deg
    (rel ~.985), 12 deg (rel ~.978, near-copy of the 10 deg hit) and
    -60 deg (rel .5, diverse). Plain top-2 would take 10 + 12; MMR's
    second pick must skip the near-copy: mmr(12 deg) = cos(12)-cos(2)
    = -.021 < mmr(-60 deg) = cos(60)-cos(70) = +.158."""
    import math as m

    from firebase_etl_spark.operators.similarity import mmr_topk

    def vec(deg):
        return [m.cos(m.radians(deg)), m.sin(m.radians(deg))]

    rows = [(0, vec(0)), (1, vec(10)), (2, vec(12)), (3, vec(-60))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_topk(df, query_id=0, k=3, pool=3).collect()
    assert [(r["mmr_rank"], r["vec_id"]) for r in out] == [
        (0, 1), (1, 3), (2, 2)
    ]
    # first pick: argmax relevance, zero redundancy by convention
    assert out[0]["red_e6"] == 0
    assert out[0]["mmr_e6"] == out[0]["rel_e6"]
    r1 = round(round(m.cos(m.radians(10)), 6) * 1e6)
    assert out[0]["rel_e6"] == r1
    # second pick: -60 deg beats the 12 deg near-copy on marginal gain
    red3 = round(round(m.cos(m.radians(70)), 6) * 1e6)
    assert out[1]["red_e6"] == red3
    assert out[1]["mmr_e6"] == out[1]["rel_e6"] - red3
    # mmr_e6 == rel_e6 - red_e6 on every row; picked ids distinct
    assert all(r["mmr_e6"] == r["rel_e6"] - r["red_e6"] for r in out)
    assert len({r["vec_id"] for r in out}) == 3


def test_mmr_topk_validation_and_small_corpus(spark):
    import pytest as _pytest

    from firebase_etl_spark.operators.similarity import mmr_topk

    df = spark.createDataFrame(
        [(7, [1.0, 0.0]), (9, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    # corpus smaller than k: returns what exists (probe excluded)
    out = mmr_topk(df, query_id=7, k=5, pool=5).collect()
    assert [(r["mmr_rank"], r["vec_id"]) for r in out] == [(0, 9)]
    with _pytest.raises(ValueError, match="k >= 1"):
        mmr_topk(df, query_id=7, k=0)
    with _pytest.raises(ValueError, match="pool >= k"):
        mmr_topk(df, query_id=7, k=5, pool=3)


def test_modularity_report_two_triangles_bridge(spark, monkeypatch):
    """Hand case: two triangles joined by one bridge edge (m = 7).
    Good partition (one community per triangle): intra 3 + 3,
    degree sums 7 + 7, q_num = 2*(4*7*3 - 49) = 70, Q = 70/196 ->
    357142 e6 (floor). Anti-modular partition (pairs across the
    bridge, zero intra edges): q_num = -(25+16+25) = -66,
    Q_e6 = -floor(66e6/196) = -336734 — pins the sign-split DIV."""
    from firebase_etl_spark.operators.graph import modularity_report

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "p1 long, p2 long",
    )
    good = spark.createDataFrame(
        [(n, 1 if n <= 3 else 4) for n in range(1, 7)],
        "node long, community long",
    )
    out = modularity_report(edges, labels=good).collect()
    assert [(r["community"], r["n_members"], r["intra_edges"],
             r["degree_sum"], r["contrib_num"]) for r in out] == [
        (1, 3, 3, 7, 35), (4, 3, 3, 7, 35)
    ]
    assert all(r["m_edges"] == 7 for r in out)
    assert all(r["q_num"] == 70 for r in out)
    assert all(r["modularity_e6"] == 357142 for r in out)

    bad = spark.createDataFrame(
        [(1, 100), (4, 100), (2, 200), (5, 200), (3, 300), (6, 300)],
        "node long, community long",
    )
    out2 = modularity_report(edges, labels=bad).collect()
    assert all(r["intra_edges"] == 0 for r in out2)
    assert all(r["q_num"] == -66 for r in out2)
    assert all(r["modularity_e6"] == -336734 for r in out2)

    # labels too large to broadcast: the shuffle joins give the same rows
    from firebase_etl_spark.operators import graph

    monkeypatch.setattr(graph, "BROADCAST_LABEL_ROWS", 0)
    assert modularity_report(edges, labels=good).collect() == out
    assert modularity_report(edges, labels=bad).collect() == out2


def test_modularity_single_community_is_zero(spark):
    """One community holding every node: m_c = m, d_c = 2m, numerator
    4m*m - 4m^2 = 0 exactly — the degenerate fixture sf0.001 hits."""
    from firebase_etl_spark.operators.graph import modularity_report

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "p1 long, p2 long"
    )
    out = modularity_report(edges, n_iter=5).collect()
    assert len(out) == 1
    assert out[0]["contrib_num"] == 0
    assert out[0]["modularity_e6"] == 0


def test_binary_auc_report_hand_cases(spark):
    """Perfect separation -> AUC 1; anti-separation -> 0; the tied-
    block path against the scipy-standard hand value: scores
    [1,1,2,3] labels [0,1,0,1] -> U = 1*0.5 + (1*1 + 1*0.5) = wait —
    exact: pos ranks avg {1.5, 4}, S = 5.5, U = 5.5 - 3 = 2.5,
    AUC = 2.5/4 = 0.625."""
    from firebase_etl_spark.operators.stats import binary_auc_report

    def run(rows):
        df = spark.createDataFrame(rows, "s long, y boolean")
        return binary_auc_report(df, F.col("s"), F.col("y")).collect()[0]

    perfect = run([(1, False), (2, False), (3, True), (4, True)])
    assert perfect["auc_e6"] == 1_000_000
    assert perfect["u2"] == 2 * 2 * 2  # 2*U, U = n_pos*n_neg
    inverted = run([(4, False), (3, False), (2, True), (1, True)])
    assert inverted["auc_e6"] == 0
    tied = run([(1, False), (1, True), (2, False), (3, True)])
    # pos avg-ranks {1.5, 4}: S=5.5, U=2.5, AUC=0.625
    assert tied["u2"] == 5  # 2*U
    assert tied["auc_e6"] == 625_000
    assert (tied["n_pos"], tied["n_neg"], tied["n_scored"]) == (2, 2, 4)
    # one-class input: AUC undefined -> NULL
    onec = run([(1, True), (2, True)])
    assert onec["auc_e6"] is None
    # all-tied scores: AUC exactly 0.5
    flat = run([(7, True), (7, False), (7, True), (7, False)])
    assert flat["auc_e6"] == 500_000


def test_cuped_report_heterogeneous_hand_case(spark):
    """Units whose covariate fully explains the outcome (y = x + arm):
    theta = 1 exactly, raw and CUPED deltas both 1 (equal X means),
    rho2_e6 = (2400*1000//2400) * (2400*1000//2409) // 1 -> 996000 —
    ~99.6% variance reduction, the signal the homogeneous events
    fixture can't show (its measured rho2_e6 is ~616)."""
    from firebase_etl_spark.operators.stats import cuped_report

    rows = [(0, 0, 0), (0, 10, 10), (0, 20, 20),
            (1, 0, 1), (1, 10, 11), (1, 20, 21)]
    df = spark.createDataFrame(rows, "arm long, x long, y long")
    r = cuped_report(df, "arm", "x", "y").collect()[0]
    assert (r["n_ctrl"], r["n_treat"]) == (3, 3)
    assert r["mean_y_ctrl_e6"] == 10_000_000
    assert r["mean_y_treat_e6"] == 11_000_000
    assert r["delta_raw_e6"] == 1_000_000
    assert r["theta_e6"] == 1_000_000
    assert r["delta_cuped_e6"] == 1_000_000
    assert r["rho2_e6"] == 996_000


def test_cuped_report_degenerate_covariate(spark):
    """var(X) = 0: theta/rho2/delta_cuped NULL, raw delta intact; and
    a negative raw delta exercises the sign-split DIV path."""
    from firebase_etl_spark.operators.stats import cuped_report

    rows = [(0, 5, 10), (0, 5, 14), (1, 5, 3), (1, 5, 5)]
    df = spark.createDataFrame(rows, "arm long, x long, y long")
    r = cuped_report(df, "arm", "x", "y").collect()[0]
    assert r["theta_e6"] is None
    assert r["rho2_e6"] is None
    assert r["delta_cuped_e6"] is None
    # means 12 vs 4: delta = -8
    assert r["delta_raw_e6"] == -8_000_000


def test_theil_sen_trend_robust_to_outlier_day(spark):
    """Perfect unit slope with one wrecked day: days 0..6 with counts
    10,11,12,13,14,15,16 except day 3 spikes to 1000. OLS would blow
    up; the pairwise-slope lower median stays 1e6 (15 of 21 pairs
    avoid the outlier and all read slope 1). Intercept median over
    n_i*1e6 - 1e6*d_i = 1e7 except day 3."""
    import datetime as dt

    from firebase_etl_spark.operators.timeseries import theil_sen_trend

    rows = []
    base = dt.datetime(2024, 1, 1)
    for d in range(7):
        n = 1000 if d == 3 else 10 + d
        for i in range(n):
            rows.append((base + dt.timedelta(days=d, seconds=i),))
    df = spark.createDataFrame(rows, "ts timestamp")
    r = theil_sen_trend(df, "ts").collect()[0]
    assert r["n_days"] == 7
    assert r["n_pairs"] == 21
    assert r["slope_med_e6"] == 1_000_000
    # b_e6 = n*1e6 - 1e6*di: six days read 10e6 + (epoch-day-of-base)
    # offset... relative: all non-outlier days share the same b, so the
    # lower median equals it
    di0 = (base.date() - dt.date(1970, 1, 1)).days
    assert r["intercept_med_e6"] == 10_000_000 - 1_000_000 * di0 + 0


def test_cm_selfjoin_size_report_exact_when_no_collisions(spark):
    """3 distinct keys in a 512-wide sketch: collision probability is
    negligible per row and min-over-4-rows kills any single unlucky
    row, so the estimate equals the exact sum of squared counts; and
    the estimate is provably never BELOW exact (collisions only add)."""
    from firebase_etl_spark.operators.heavy_hitters import (
        cm_selfjoin_size_report,
    )

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(rows, "k string")
    r = cm_selfjoin_size_report(df, "k", width=512, depth=4).collect()[0]
    assert (r["n_rows"], r["n_keys"]) == (10, 3)
    assert r["exact_pairs"] == 25 + 9 + 4
    assert r["cms_estimate"] >= r["exact_pairs"]
    assert r["overestimate"] == r["cms_estimate"] - r["exact_pairs"]
    # partitioning invariance: the sketch is a sum — repartition safe
    r13 = cm_selfjoin_size_report(
        df.repartition(13), "k", width=512, depth=4
    ).collect()[0]
    assert tuple(r) == tuple(r13)


def test_ewma_forecast_backtest_hand_case(spark):
    """Three days, counts 4, 8, 4: s0 = 4e6; day1 err |8e6-4e6| = 4e6
    naive 4e6; s1 = (8e6 + 12e6)//4 = 5e6; day2 err |4e6-5e6| = 1e6,
    naive 4e6; s2 = (4e6+15e6)//4 = 4_750_000. Skill = 5e6*1e6//8e6 =
    625000 — the smoother wins on the mean-reverting series."""
    import datetime as dt

    from firebase_etl_spark.operators.timeseries import (
        ewma_forecast_backtest,
    )

    rows = []
    base = dt.datetime(2024, 3, 1)
    for d, n in enumerate([4, 8, 4]):
        for i in range(n):
            rows.append((base + dt.timedelta(days=d, seconds=i),))
    df = spark.createDataFrame(rows, "ts timestamp")
    r = ewma_forecast_backtest(df, "ts").collect()[0]
    assert r["n_days"] == 3
    assert r["ewma_abs_err_e6"] == 5_000_000
    assert r["naive_abs_err_e6"] == 8_000_000
    assert r["skill_e6"] == 625_000
    assert r["forecast_next_e6"] == 4_750_000
    # empty input: empty frame, stable schema
    empty = spark.createDataFrame([], "ts timestamp")
    assert ewma_forecast_backtest(empty, "ts").count() == 0


def test_classification_agreement_majority_class_kappa_zero(spark):
    """A predictor that always answers the majority class: accuracy =
    majority share, kappa = 0 EXACTLY (n*sum_tp == sum_rt_ct when one
    column holds everything) — the degenerate case chance-correction
    exists to expose."""
    from firebase_etl_spark.operators.stats import (
        classification_agreement_report,
    )

    rows = [("a", "a")] * 6 + [("b", "a")] * 4
    df = spark.createDataFrame(rows, "truth string, pred string")
    out = {r["label"]: r for r in
           classification_agreement_report(df, "truth", "pred").collect()}
    assert out["a"]["accuracy_e6"] == 600_000
    assert out["a"]["kappa_e6"] == 0
    assert out["a"]["recall_e6"] == 1_000_000
    assert out["b"]["recall_e6"] == 0
    assert out["b"]["precision_e6"] is None  # never predicted
    # macro-F1 averages the DEFINED F1s: a = 2*6/(10+6)=0.75, b = 0
    assert out["a"]["macro_f1_e6"] == 375_000


def test_classification_agreement_perfect_predictor(spark):
    from firebase_etl_spark.operators.stats import (
        classification_agreement_report,
    )

    rows = [("x", "x")] * 3 + [("y", "y")] * 7
    df = spark.createDataFrame(rows, "truth string, pred string")
    out = classification_agreement_report(df, "truth", "pred").collect()
    assert all(r["accuracy_e6"] == 1_000_000 for r in out)
    assert all(r["kappa_e6"] == 1_000_000 for r in out)
    assert all(r["f1_e6"] == 1_000_000 for r in out)


def test_extract_bmp_dhash_identical_and_different(spark):
    """Two byte-identical images hash identically (hamming 0); a
    vertically-graded image vs its inverse flip every gradient bit
    that is strictly ordered. Also: undecodable payloads drop."""
    from firebase_etl_spark.operators.multimodal import (
        encode_bmp24,
        extract_bmp_dhash,
    )

    w, h = 10, 9
    ramp = [[(x * 20 % 256,) * 3 for x in range(w)] for _ in range(h)]
    anti = [[((w - 1 - x) * 20 % 256,) * 3 for x in range(w)]
            for _ in range(h)]
    rows = [
        (1, bytearray(encode_bmp24(w, h, ramp))),
        (2, bytearray(encode_bmp24(w, h, ramp))),
        (3, bytearray(encode_bmp24(w, h, anti))),
        (4, bytearray(b"not a bmp")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: (r["h_hi"], r["h_lo"])
           for r in extract_bmp_dhash(df).collect()}
    assert 4 not in out  # undecodable dropped
    assert out[1] == out[2]  # identical bytes -> identical hash
    assert out[1] != out[3]  # reversed gradient -> different hash
    # halves are non-negative 32-bit (the no-sign-semantics contract)
    for hi, lo in out.values():
        assert 0 <= hi < (1 << 32) and 0 <= lo < (1 << 32)
    # monotone ramp: every gray[x] < gray[x+1] -> all bits 0
    assert out[1] == (0, 0)
    # anti-ramp: every comparison strictly greater -> all 64 bits set
    assert out[3] == ((1 << 32) - 1, (1 << 32) - 1)


def test_mann_kendall_hand_cases(spark):
    """Strictly increasing 5-day series: S = 10 (all pairs up), no
    ties: var18 = 5*4*15 = 300, var = 16.6667, z = 9/sqrt(50/3).
    Flat series: S = 0 and the tie term cancels var18 to 0 -> z NULL."""
    import datetime as dt
    import math as m

    from firebase_etl_spark.operators.timeseries import mann_kendall_test

    def series(counts):
        rows = []
        base = dt.datetime(2024, 5, 1)
        for d, n in enumerate(counts):
            for i in range(n):
                rows.append((base + dt.timedelta(days=d, seconds=i),))
        return spark.createDataFrame(rows, "ts timestamp")

    r = mann_kendall_test(series([1, 2, 3, 4, 5]), "ts").collect()[0]
    assert r["n_days"] == 5
    assert r["s_stat"] == 10
    assert r["var18"] == 300
    want = round((10 - 1) / m.sqrt(300 / 18) * 1e6 + 1e-9)
    assert r["z_e6"] == want
    flat = mann_kendall_test(series([3, 3, 3, 3]), "ts").collect()[0]
    assert flat["s_stat"] == 0
    assert flat["var18"] == 0
    assert flat["z_e6"] is None


def test_dbscan_report_hand_case(spark):
    """2D hand case at cosine >= 0.9, min_pts = 3: a dense fan of four
    near-parallel vectors (ids 1-4, all pairwise-similar -> all core),
    a border point (id 5) similar only to one core, and an isolated
    noise point (id 9). One cluster labeled by the min core id, core
    count 4, border 1, noise 1."""
    import math as m

    from firebase_etl_spark.operators.clustering import dbscan_report

    def vec(deg):
        return [m.cos(m.radians(deg)), m.sin(m.radians(deg))]

    rows = [
        (1, vec(0)), (2, vec(5)), (3, vec(10)), (4, vec(15)),
        (5, vec(38)),   # cos to id4 = cos(23 deg) ~ .921 — border
        (9, vec(180)),  # noise
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dbscan_report(df, threshold=0.9, min_pts=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cluster"] == 1
    assert (r["n_core"], r["n_border"]) == (4, 1)
    assert (r["n_clusters"], r["n_clustered"]) == (1, 5)
    assert (r["n_noise"], r["n_points"]) == (1, 6)


def test_dbscan_isolated_core_pair_self_labels(spark):
    """min_pts = 2: two mutually-similar vectors are both core with
    only each other — the cluster labels by the lower id; everything
    orthogonal is noise."""
    from firebase_etl_spark.operators.clustering import dbscan_report

    rows = [
        (10, [1.0, 0.0, 0.0]),
        (11, [0.999, 0.04, 0.0]),
        (12, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dbscan_report(df, threshold=0.9, min_pts=2).collect()
    assert [(r["cluster"], r["n_core"], r["n_border"]) for r in out] == [
        (10, 2, 0)
    ]
    assert out[0]["n_noise"] == 1


def test_dataset_fingerprint_invariances(spark):
    """Partitioning/order invariance; single-row sensitivity; NULL vs
    the string 'NULL' vs empty are three DIFFERENT fingerprints (the
    sentinel contract); null counts localize the drifted column."""
    from firebase_etl_spark.operators.stats import dataset_fingerprint

    rows = [(1, "a"), (2, None), (3, "c")]
    df = spark.createDataFrame(rows, "id long, v string")
    base = dataset_fingerprint(df, ["id", "v"]).collect()
    fp = {r["col_name"]: r for r in base}
    assert base[0]["n_rows"] == 3
    assert fp["v"]["n_nulls"] == 1 and fp["id"]["n_nulls"] == 0
    # order/partitioning invariance
    shuf = dataset_fingerprint(
        spark.createDataFrame(rows[::-1], "id long, v string")
        .repartition(7),
        ["id", "v"],
    ).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in shuf]
    # NULL != 'NULL' != '' under the sentinel
    lit = dataset_fingerprint(
        spark.createDataFrame([(1, "a"), (2, "NULL"), (3, "c")],
                              "id long, v string"),
        ["id", "v"],
    ).collect()
    emp = dataset_fingerprint(
        spark.createDataFrame([(1, "a"), (2, ""), (3, "c")],
                              "id long, v string"),
        ["id", "v"],
    ).collect()
    sigs = {base[0]["dataset_xor"], lit[0]["dataset_xor"],
            emp[0]["dataset_xor"]}
    assert len(sigs) == 3
    # one changed row flips the dataset hash but id column's leaf holds
    mut = dataset_fingerprint(
        spark.createDataFrame([(1, "a"), (2, None), (3, "X")],
                              "id long, v string"),
        ["id", "v"],
    ).collect()
    mfp = {r["col_name"]: r for r in mut}
    assert mut[0]["dataset_xor"] != base[0]["dataset_xor"]
    assert mfp["id"]["col_xor"] == fp["id"]["col_xor"]
    assert mfp["v"]["col_xor"] != fp["v"]["col_xor"]


def test_pca_power_matches_numpy_top_eigvec(spark):
    import numpy as np

    from firebase_etl_spark.operators.clustering import pca_power_report

    rng = np.random.RandomState(7)
    # anisotropic cloud: dominant direction along (3, 1, 0, ...) in 8-d
    base = rng.randn(200, 8)
    base[:, 0] += 3.0 * rng.randn(200)
    base[:, 1] += base[:, 0] / 3.0
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(200)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = pca_power_report(df).collect()
    assert len(out) == 8
    v = np.array([r["loading_e6"] for r in sorted(out, key=lambda r: r["dim"])],
                 dtype=float)
    v /= np.linalg.norm(v)
    # numpy truth on the same quantized unit vectors
    x = base / np.linalg.norm(base, axis=1, keepdims=True)
    c = np.round(x * 10000.0)
    cov = np.cov(c.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    assert abs(abs(float(v @ top))) > 0.999
    share = out[0]["var_share_e6"] / 1e6
    truth_share = evals[-1] / evals.sum()
    assert abs(share - truth_share) < 0.01
    assert out[0]["n_vectors"] == 200
    # sign convention: largest-|loading| dim is positive
    big = max(out, key=lambda r: (abs(r["loading_e6"]), -r["dim"]))
    assert big["loading_e6"] > 0


def test_pca_power_empty_input(spark):
    from firebase_etl_spark.operators.clustering import pca_power_report

    df = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert pca_power_report(df).count() == 0


def test_poisson_bootstrap_ci_constant_degenerate(spark):
    from firebase_etl_spark.operators.stats import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, 500) for i in range(50)], "id long, c long"
    )
    r = poisson_bootstrap_ci(df, "c", "id").collect()[0]
    assert r["point_mean_cents"] == 500
    assert r["ci_lo_cents"] == 500 and r["ci_hi_cents"] == 500
    assert r["ci_width_cents"] == 0
    assert r["n_rows"] == 50 and r["n_replicates"] == 64


def test_poisson_bootstrap_ci_brackets_mean(spark):
    from firebase_etl_spark.operators.stats import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, (i % 100) * 10) for i in range(400)], "id long, c long"
    )
    r = poisson_bootstrap_ci(df, "c", "id").collect()[0]
    assert r["ci_lo_cents"] <= r["point_mean_cents"] <= r["ci_hi_cents"]
    assert 0 < r["ci_width_cents"] < 200  # sd ~289, se ~14.5 -> ~4*se
    assert r["boot_min_cents"] <= r["ci_lo_cents"]
    assert r["boot_max_cents"] >= r["ci_hi_cents"]


def test_ab_fdr_screen_step_up_logic(spark):
    from firebase_etl_spark.operators.stats import ab_fdr_screen

    # group A: huge true shift (z >> 2.58); B: none; C: none.
    rows = []
    for i in range(400):
        rows.append(("A", i % 2, 1000 + (i % 2) * 500 + (i % 7)))
        rows.append(("B", i % 2, 2000 + (i % 5)))
        rows.append(("C", i % 2, 3000 + (i % 3)))
    df = spark.createDataFrame(rows, "g string, arm int, v long")
    out = ab_fdr_screen(df, "g", "arm", "v").collect()
    by = {r["group_key"]: r for r in out}
    assert by["A"]["bh_rank"] == 1 and by["A"]["rejected"]
    assert not by["B"]["rejected"] and not by["C"]["rejected"]
    # value_c_expr was passed raw v, so means are v-units * 1e4:
    # the 500-unit arm shift reads as 5e6, +/- the i%7 parity noise
    diff = by["A"]["mean_b_e6"] - by["A"]["mean_a_e6"]
    assert abs(diff - 500 * 10000) < 10000
    # ranks are a permutation 1..3 and crit is monotone decreasing
    ranks = sorted(r["bh_rank"] for r in out)
    assert ranks == [1, 2, 3]
    crits = [r["crit_e6"] for r in sorted(out, key=lambda r: r["bh_rank"])]
    assert crits == sorted(crits, reverse=True)


def test_ab_fdr_screen_null_z_small_arm(spark):
    from firebase_etl_spark.operators.stats import ab_fdr_screen

    df = spark.createDataFrame(
        [("A", 0, 10), ("A", 1, 20)], "g string, arm int, v long"
    )
    r = ab_fdr_screen(df, "g", "arm", "v").collect()[0]
    assert r["z_e6"] is None and not r["rejected"]


def test_js_divergence_identical_and_disjoint(spark):
    from firebase_etl_spark.operators.lm import js_divergence_report

    df = spark.createDataFrame(
        [
            ("a", "x y z x"), ("b", "x y z x"),     # identical mixes
            ("c", "p q r s p q"),                     # disjoint from a
        ],
        "lang string, text string",
    )
    out = {(r["lang_a"], r["lang_b"]): r
           for r in js_divergence_report(df).collect()}
    assert out[("a", "b")]["jsd_e6"] == 0
    assert out[("a", "b")]["n_types_shared"] == 3
    dis = out[("a", "c")]
    assert dis["n_types_shared"] == 0
    # disjoint supports: JSD == ln 2 (within per-type e6 quantization)
    assert abs(dis["jsd_e6"] - 693147) <= len("xyzpqrs")
    assert out[("b", "c")]["jsd_e6"] == dis["jsd_e6"]


def test_golden_records_field_level_survivorship(spark):
    from firebase_etl_spark.operators.linkage import golden_records

    rows = [
        # entity 1: web is freshest (ts 200) but has NULL balance;
        # crm (ts 100, prio 3) has the only balance; legacy has nation
        (1, "crm", 3, 100, "Alice", 5000, None),
        (1, "web", 2, 200, "ALICE", None, None),
        (1, "legacy", 1, 50, "Alyce", None, 7),
        # entity 2: single record - filtered by min_records
        (2, "crm", 3, 100, "Bob", 100, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "entity_id long, source string, prio long, ts long,"
        " name string, bal_cents long, nation long",
    )
    out = golden_records(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["entity_id"] == 1
    assert r["golden_name"] == "ALICE"       # freshest record
    assert r["golden_bal_cents"] == 5000     # freshest NON-NULL bal
    assert r["golden_nation"] == 7           # highest-trust non-null
    assert r["n_records"] == 3 and r["n_sources"] == 3
    assert r["n_distinct_names"] == 3


def test_readability_report_hand_case(spark):
    from firebase_etl_spark.operators.quality import readability_report

    # "the cat sat." : w=3, s=1, y=3 -> flesch_e3 = 206835 - 1015*3
    #   - 84600*3//3 = 206835 - 3045 - 84600 = 119190
    # grade_e3 = 390*3 + 11800*3//3 - 15590 = 1170 + 11800 - 15590 = -2620
    df = spark.createDataFrame(
        [(1, "the cat sat.", "en"), (2, None, "en"), (3, "x", None)],
        "doc_id long, text string, lang string",
    )
    out = readability_report(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["lang"] == "en" and r["n_docs"] == 1
    assert r["mean_flesch_e3"] == 119190
    assert r["mean_grade_e3"] == -2620
    assert r["n_easy"] == 1 and r["n_hard"] == 0


def test_winsorized_stats_hand_case(spark):
    from firebase_etl_spark.operators.stats import winsorized_stats

    # 20 values 1..19 plus one whale 10000. n=21:
    # r_lo = ceil(5*21/100) = 2 -> cut = 2nd smallest = 2
    # r_hi = ceil(95*21/100) = 20 -> cut = 20th = 19
    vals = list(range(1, 20)) + [10000, 0]
    rows = [("A", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, k long, v long")
    r = winsorized_stats(df, "g", "v", "k").collect()[0]
    assert r["n_rows"] == 21
    assert r["lo_cut_cents"] == 1 and r["hi_cut_cents"] == 19
    raw = sum(vals) // 21
    wins = (sum(range(1, 20)) + 19 + 1) // 21
    trim = sum(range(1, 20)) // 19
    assert r["mean_cents"] == raw
    assert r["winsorized_mean_cents"] == wins
    assert r["trimmed_mean_cents"] == trim
    assert r["winsorized_mean_cents"] < r["mean_cents"]


def test_conformal_interval_coverage_guarantee(spark):
    from firebase_etl_spark.operators.stats import (
        conformal_interval_report,
    )

    # deterministic pseudo-noise values; exchangeable across k%3 splits
    rows = [("A", k, 10000 + ((k * 7919) % 997)) for k in range(600)]
    df = spark.createDataFrame(rows, "g string, k long, v long")
    r = conformal_interval_report(df, "g", "v", "k").collect()[0]
    assert r["n_train"] == 200 and r["n_calib"] == 200
    assert r["n_test"] == 200
    # marginal coverage >= 1 - alpha (within finite-sample slack)
    assert r["coverage_e6"] >= 850000
    assert r["q_resid_cents"] > 0
    # interval is two-sided around the train median
    assert 10000 <= r["pred_cents"] <= 11000


def test_gains_table_perfect_and_flat(spark):
    from firebase_etl_spark.operators.stats import gains_table

    # perfect targeting: outcome == score; top decile holds the
    # 10 largest of 0..99 -> captures (90+...+99)/4950 of the total
    rows = [(float(i), i, i) for i in range(100)]
    df = spark.createDataFrame(rows, "sc double, y long, k long")
    out = gains_table(df, "sc", "y", "k").collect()
    assert [r["bucket"] for r in out] == list(range(10))
    top = out[0]
    assert top["n_units"] == 10
    assert top["outcome_cents"] == sum(range(90, 100))
    exp_share = sum(range(90, 100)) * 1000000 // 4950
    assert top["cum_outcome_share_e6"] == exp_share
    assert top["cum_unit_share_e6"] == 100000
    assert top["lift_e6"] == exp_share * 100 // 10
    # last row: cumulative share reaches 100%, lift 1.0
    assert out[-1]["cum_outcome_share_e6"] == 1000000
    assert out[-1]["lift_e6"] == 1000000


def test_calibration_report_perfect_and_off(spark):
    from firebase_etl_spark.operators.stats import calibration_report

    # perfectly calibrated at 0.25 / 0.75: bins read acc == conf
    rows = []
    for i in range(400):
        rows.append((250000, 1 if i % 4 == 0 else 0))
        rows.append((750000, 0 if i % 4 == 0 else 1))
    df = spark.createDataFrame(rows, "p long, y long")
    out = calibration_report(df, "p", "y").collect()
    by = {r["bin"]: r for r in out}
    assert by[2]["conf_e6"] == 250000 and by[2]["acc_e6"] == 250000
    assert by[7]["conf_e6"] == 750000 and by[7]["acc_e6"] == 750000
    assert out[0]["ece_e6"] == 0
    # Brier of a calibrated binary scorer = mean p(1-p) = 0.1875
    assert abs(out[0]["brier_e6"] - 187500) <= 2

    # maximally overconfident: claims 0.9, truth 0.0
    df2 = spark.createDataFrame(
        [(900000, 0)] * 50, "p long, y long"
    )
    r2 = calibration_report(df2, "p", "y").collect()[0]
    assert r2["gap_e6"] == -900000
    assert r2["ece_e6"] == 900000
    assert abs(r2["brier_e6"] - 810000) <= 2


def test_phrase_search_adjacency_and_repeats(spark):
    from firebase_etl_spark.operators.retrieval import phrase_search

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the cat mat"),
            (2, "cat the sat"),              # words present, order wrong
            (3, "the cat the cat the cat"),  # 3 occurrences
            (4, "go go go"),                 # repeated-term phrase
        ],
        "doc_id long, text string",
    )
    out = {r["phrase"]: r for r in phrase_search(
        df, ["the cat", "cat sat", "go go", "zz yy"]
    ).collect()}
    tc = out["the cat"]
    assert tc["n_matching_docs"] == 2
    assert tc["n_occurrences"] == 5          # 2 in doc1 + 3 in doc3
    assert tc["top_doc_id"] == 3 and tc["top_doc_hits"] == 3
    assert out["cat sat"]["n_matching_docs"] == 1   # only doc1
    gg = out["go go"]
    assert gg["n_occurrences"] == 2          # overlapping anchors 0,1
    assert "zz yy" not in out                # no-match phrases emit no row


def test_group_sequential_crossing_and_cutoffs(spark):
    from firebase_etl_spark.operators.stats import (
        group_sequential_monitor,
    )

    # arm 1 shifts massively in the second half: looks 1-2 read null
    # effect, looks 3-4 should cross even the OBF early-look bars
    rows = []
    for i in range(800):
        us = i * 1000
        arm = i % 2
        v = 1000 + (i % 11)
        if us > 400_000 and arm == 1:
            v += 900
        rows.append((arm, v, us))
    df = spark.createDataFrame(rows, "arm int, v long, us long")
    out = group_sequential_monitor(df, "arm", "v", "us").collect()
    assert [r["look"] for r in out] == [1, 2, 3, 4]
    assert not out[0]["crossed"] and not out[1]["crossed"]
    assert out[3]["crossed"]
    fc = out[0]["first_crossed_look"]
    assert fc in (3, 4) and all(r["first_crossed_look"] == fc for r in out)
    # cumulative arms stay balanced and cutoffs are the quartile points
    assert out[3]["n_a"] == 400 and out[3]["n_b"] == 400
    assert out[0]["cutoff_us"] == (799000) // 4


def test_ql_topk_prefers_matching_doc(spark):
    from firebase_etl_spark.operators.retrieval import ql_topk

    df = spark.createDataFrame(
        [
            (0, "apple banana cherry"),
            (1, "apple banana cherry apple banana"),  # best match
            (2, "apple dog egg fig grape"),            # partial match
            (3, "dog egg fig grape hat"),              # no query terms
            (4, "apple " * 50),                        # long, one term
        ],
        "doc_id long, text string",
    )
    out = ql_topk(df, [0], k=4).collect()
    assert out[0]["doc_id"] == 1 and out[0]["rank"] == 1
    assert out[0]["n_matched"] == 3
    ids = [r["doc_id"] for r in out]
    assert 0 not in ids          # never matches itself
    assert 3 not in ids          # no shared term -> no candidate
    # doc 4 matches only 'apple' despite repeating it 50 times;
    # Dirichlet length normalization keeps it below doc 1
    r4 = [r for r in out if r["doc_id"] == 4][0]
    assert r4["rank"] > 1


def test_group_jackknife_influence_signs(spark):
    from firebase_etl_spark.operators.stats import group_jackknife

    # group W is the whale: removing it should DROP the global mean
    rows = [("W", 1000000)] * 5 + [("a", 100)] * 10 + [("b", 200)] * 10
    df = spark.createDataFrame(
        [(g, i, v) for i, (g, v) in enumerate(rows)],
        "g string, i long, v long",
    )
    out = group_jackknife(df, "g", "v").collect()
    by = {r["g"]: r for r in out}
    assert out[0]["g"] == "W"  # largest |influence| first
    assert by["W"]["influence_cents"] < 0
    assert by["a"]["influence_cents"] > 0
    tot = 5 * 1000000 + 10 * 100 + 10 * 200
    assert by["W"]["overall_mean_cents"] == tot // 25
    assert by["W"]["mean_without_cents"] == (10 * 100 + 10 * 200) // 20


def test_partition_advisor_arithmetic(spark):
    from firebase_etl_spark.operators.stats import partition_advisor

    # 3 rows: long(8) + string(len+4); skewed key: 'a' twice
    df = spark.createDataFrame(
        [(1, "xx"), (1, "yyyy"), (2, None)], "k long, s string"
    )
    r = partition_advisor(df, "k").collect()[0]
    # bytes: (8+2+4) + (8+4+4) + (8+0+4) = 14 + 16 + 12 = 42
    assert r["n_rows"] == 3 and r["est_total_bytes"] == 42
    assert r["avg_row_bytes"] == 14
    assert r["n_distinct_keys"] == 2 and r["max_key_freq"] == 2
    # skew = 2 * 2 / 3 = 1.333x uniform
    assert r["skew_ratio_e6"] == 1333333
    assert r["recommended_partitions"] == 1
    assert r["rows_per_partition"] == 3


def test_rake_keywords_degree_freq_scoring(spark):
    from firebase_etl_spark.operators.text import rake_keywords

    # 'deep learning' cohesive phrase; 'data' appears alone and inside
    # a longer phrase, diluting its degree/freq less than cohesion
    df = spark.createDataFrame(
        [
            (1, "deep learning and deep learning of data"),
            (2, "data in deep learning"),
        ],
        "doc_id long, text string",
    )
    out = rake_keywords(df, top=10).collect()
    by = {r["phrase"]: r for r in out}
    assert "deep learning" in by
    dl = by["deep learning"]
    assert dl["n_occurrences"] == 3 and dl["n_words"] == 2
    # deep: freq 3, degree 6 -> 2e6; learning same -> phrase 4e6
    assert dl["score_e6"] == 4000000
    # 'data': freq 2, degree 2 -> 1e6
    assert by["data"]["score_e6"] == 1000000
    assert out[0]["phrase"] == "deep learning"


def test_mix_shift_identity_reconciles(spark):
    from firebase_etl_spark.operators.stats import (
        mix_shift_decomposition,
    )

    # type A: price 100 -> 120 cents, qty 10 -> 15
    # dR = 1800-1000 = 800; price=(20e4)*10=2e6, vol=100e4*5=5e6,
    # mix=20e4*5=1e6 -> 8e6 == 800*1e4, residual 0
    rows = [
        ("A", 10, 1000, 0), ("A", 15, 1800, 1),
        ("B", 5, 500, 0),                      # vanishes in period 1
    ]
    df = spark.createDataFrame(rows, "g string, q long, r long, p int")
    out = {r["g"]: r for r in mix_shift_decomposition(
        df, "g", "q", "r", "p"
    ).collect()}
    a = out["A"]
    assert a["delta_cents"] == 800
    assert a["price_effect_e4"] == 2_000_000
    assert a["volume_effect_e4"] == 5_000_000
    assert a["mix_effect_e4"] == 1_000_000
    assert a["residual_e4"] == 0
    b = out["B"]
    assert b["delta_cents"] == -500
    assert b["price_effect_e4"] is None


def test_ks_drift_exact_statistic(spark):
    from firebase_etl_spark.operators.timeseries import ks_drift_report

    # early half (us <= mid): values 1..10; late half: values 6..15
    # shifted by 5 -> D = 0.5 at value 5 (F1=0.5, F2=0.0)
    rows = []
    for i in range(10):
        rows.append(("A", float(i + 1), 0))
        rows.append(("A", float(i + 6), 1000))
    import datetime as dt

    df = spark.createDataFrame(
        [(g, v, dt.datetime(2024, 1, 1, 0, 0, 0)
          + dt.timedelta(seconds=s)) for g, v, s in rows],
        "event_type string, value double, ts timestamp",
    )
    r = ks_drift_report(df).collect()[0]
    assert r["n_early"] == 10 and r["n_late"] == 10
    assert r["ks_e6"] == 500000
    assert r["ks_at_value"] == 5.0
    # crit at n=10/10 ~ 0.6074 -> 0.5 not significant
    assert 600000 < r["crit_e6"] < 620000
    assert not r["drifted"]


def test_holt_beats_ewma_on_trending_series(spark):
    import datetime as dt

    from firebase_etl_spark.operators.timeseries import (
        ewma_forecast_backtest,
        holt_forecast_backtest,
    )

    # strictly trending series: 10, 20, 30, ... one event-count per day
    rows = []
    for day in range(40):
        n = 10 + day * 10
        for j in range(n):
            rows.append(
                (dt.datetime(2024, 1, 1) + dt.timedelta(days=day,
                                                        seconds=j),)
            )
    df = spark.createDataFrame(rows, "ts timestamp")
    h = holt_forecast_backtest(df).collect()[0]
    e = ewma_forecast_backtest(df).collect()[0]
    assert h["n_days"] == 40
    # Holt locks onto the linear trend; EWMA lags it forever
    assert h["holt_abs_err_e6"] < e["ewma_abs_err_e6"]
    assert h["skill_e6"] < 1000000  # beats naive too
    assert h["trend_e6"] > 0
    # forecast for day 41 should be near 10 + 40*10 = 410
    assert abs(h["forecast_next_e6"] - 410_000_000) < 30_000_000


def test_holt_single_day_empty(spark):
    import datetime as dt

    from firebase_etl_spark.operators.timeseries import (
        holt_forecast_backtest,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1),)], "ts timestamp"
    )
    assert holt_forecast_backtest(df).count() == 0


def test_capture_recapture_chapman(spark):
    import datetime as dt

    from firebase_etl_spark.operators.heavy_hitters import (
        capture_recapture_report,
    )

    # population 0..99; early window sees users 0..59, late 40..99:
    # n1=60, n2=60, m=20 -> Chapman (61*61)//21 - 1 = 176
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for u in range(60):
        rows.append((u, t0))
    for u in range(40, 100):
        rows.append((u, t0 + dt.timedelta(hours=10)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    r = capture_recapture_report(df).collect()[0]
    assert r["n_first"] == 60 and r["n_second"] == 60
    assert r["n_overlap"] == 20
    assert r["chapman_estimate"] == (61 * 61) // 21 - 1
    assert r["actual_distinct"] == 100
    assert r["err_e6"] == (abs(r["chapman_estimate"] - 100) * 1000000) // 100


def test_eb_shrinkage_small_groups_shrink_harder(spark):
    from firebase_etl_spark.operators.stats import eb_shrinkage_report

    # prior ~0.5; tiny group with extreme rate vs big group same rate
    rows = [
        ("tiny", 4, 4),       # raw 100%, n=4
        ("big", 1000, 1000),  # raw 100%, n=1000
        ("a", 100, 40), ("b", 100, 50), ("c", 100, 60),
        ("d", 100, 45), ("e", 100, 55),
    ]
    df = spark.createDataFrame(rows, "g string, n long, k long")
    out = {r["g"]: r for r in eb_shrinkage_report(df).collect()}
    t, b = out["tiny"], out["big"]
    assert t["raw_rate_e6"] == 1000000 and b["raw_rate_e6"] == 1000000
    # both shrink toward the prior mean; the tiny group much harder
    assert t["shrunk_rate_e6"] < b["shrunk_rate_e6"]
    assert t["prior_weight_e6"] > b["prior_weight_e6"]
    # no group crosses the prior from above
    mu = sum(r["raw_rate_e6"] for r in out.values()) // len(out)
    assert t["shrunk_rate_e6"] > mu - 5000


def test_eb_shrinkage_degenerate_prior_falls_back(spark):
    from firebase_etl_spark.operators.stats import eb_shrinkage_report

    df = spark.createDataFrame(
        [("a", 10, 5), ("b", 20, 10)], "g string, n long, k long"
    )  # identical rates -> zero variance -> raw passthrough
    out = eb_shrinkage_report(df).collect()
    for r in out:
        assert r["shrunk_rate_e6"] == r["raw_rate_e6"]
        assert r["alpha_e3"] is None and r["prior_weight_e6"] == 0


def test_fd_audit_holds_and_violations(spark):
    from firebase_etl_spark.operators.stats import fd_audit

    df = spark.createDataFrame(
        [
            (1, "a", "X"), (1, "a", "Y"),  # k->v holds, k->w violated
            (2, "b", "X"), (3, "b", "X"),
            (None, "z", "Z"),              # null determinant excluded
        ],
        "k long, v string, w string",
    )
    out = {(r["determinant"], r["dependent"]): r
           for r in fd_audit(df, [("k", "v"), ("k", "w")]).collect()}
    kv = out[("k", "v")]
    assert kv["holds"] and kv["n_keys"] == 3
    assert kv["n_violating_keys"] == 0 and kv["max_variants"] == 1
    kw = out[("k", "w")]
    assert not kw["holds"]
    assert kw["n_violating_keys"] == 1 and kw["max_variants"] == 2


def test_power_analysis_textbook_value(spark):
    from firebase_etl_spark.operators.stats import power_analysis_report

    # p=0.5, 10% relative MDE (delta=0.05): textbook n/arm =
    # 2*pbar(1-pbar)*(1.96+0.8416)^2/0.05^2 ~ 1565 (pbar=0.525)
    df = spark.createDataFrame(
        [("m", 10000, 5000)], "g string, n long, k long"
    )
    r = power_analysis_report(df).collect()[0]
    assert r["p_e6"] == 500000 and r["delta_e6"] == 50000
    assert 1500 <= r["n_required_per_arm"] <= 1620
    assert r["powered_now"]  # 10000 baseline users > n required

    # tiny baseline: not powered
    df2 = spark.createDataFrame(
        [("m", 50, 25)], "g string, n long, k long"
    )
    r2 = power_analysis_report(df2).collect()[0]
    assert not r2["powered_now"]

    # degenerate rates drop out
    df3 = spark.createDataFrame(
        [("all", 100, 100), ("none", 100, 0)],
        "g string, n long, k long",
    )
    assert power_analysis_report(df3).count() == 0


def test_next_event_accuracy_learns_deterministic_chain(spark):
    import datetime as dt

    from firebase_etl_spark.operators.timeseries import (
        next_event_accuracy,
    )

    # user streams follow a -> b -> a -> b ... deterministically;
    # the Markov argmax should hit 100% on the test half while the
    # majority baseline can't beat ~50%
    rows = []
    eid = 0
    t0 = dt.datetime(2024, 1, 1)
    for u in range(4):
        for i in range(40):
            rows.append(
                (u, "a" if i % 2 == 0 else "b",
                 t0 + dt.timedelta(minutes=i), eid)
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp,"
        " event_id long"
    )
    out = {r["from_state"]: r for r in next_event_accuracy(df).collect()}
    assert out["a"]["predicted_to"] == "b"
    assert out["b"]["predicted_to"] == "a"
    assert out["a"]["acc_e6"] == 1000000
    assert out["b"]["acc_e6"] == 1000000
    # the single-class baseline is wrong on one of the two states
    assert min(out["a"]["baseline_acc_e6"],
               out["b"]["baseline_acc_e6"]) == 0


def test_quantile_normalization_map_alignment(spark):
    from firebase_etl_spark.operators.stats import (
        quantile_normalization_map,
    )

    # group A = 1..100, group B = 101..200: pooled = 1..200;
    # B's deciles sit exactly 100 above A's
    rows = [("A", v, v) for v in range(1, 101)]
    rows += [("B", v + 100, v + 100) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "g string, v long, k long")
    out = quantile_normalization_map(df, "g", "v", "k").collect()
    by = {(r["g"], r["q_idx"]): r for r in out}
    assert len(out) == 20
    for q in range(1, 11):
        a, b = by[("A", q)], by[("B", q)]
        assert b["src_q_cents"] - a["src_q_cents"] == 100
        assert a["pooled_q_cents"] == b["pooled_q_cents"] == q * 20
        # adjustments move each group toward the pooled distribution
        assert a["adjust_cents"] == q * 20 - q * 10
        assert b["adjust_cents"] == q * 20 - (100 + q * 10)


def test_isotonic_calibration_minimax_pava(spark):
    from firebase_etl_spark.operators.stats import (
        isotonic_calibration_report,
    )

    # violator pattern: bin accs 0.2, 0.6, 0.4, 0.8 (bins 1,3,5,7);
    # weighted PAVA pools bins 3&5 (equal n) to 0.5; ends untouched
    rows = []
    for acc, p in [(20, 150000), (60, 350000), (40, 550000),
                   (80, 750000)]:
        for i in range(100):
            rows.append((p, 1 if i < acc else 0))
    df = spark.createDataFrame(rows, "p long, y long")
    out = {r["bin"]: r for r in isotonic_calibration_report(
        df, "p", "y"
    ).collect()}
    assert out[1]["iso_acc_e6"] == 200000
    assert out[3]["iso_acc_e6"] == 500000
    assert out[5]["iso_acc_e6"] == 500000
    assert out[7]["iso_acc_e6"] == 800000
    # monotone, and the fit strictly improves weighted ECE-to-fit
    isos = [out[b]["iso_acc_e6"] for b in sorted(out)]
    assert isos == sorted(isos)
    r = out[1]
    assert r["ece_iso_e6"] < r["ece_raw_e6"]


def test_dau_mau_stickiness_hand_case(spark):
    import datetime as dt

    from firebase_etl_spark.operators.timeseries import (
        dau_mau_stickiness,
    )

    rows = []
    # Jan: users 1,2 active on day 1; user 1 on day 2 -> dau 2,1;
    # mau 2; stickiness = (3/2)/2 = 0.75
    rows += [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 1)),
             (1, dt.datetime(2024, 1, 2))]
    # Feb: one user one day -> stickiness 1.0
    rows += [(5, dt.datetime(2024, 2, 10))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["month"]: r for r in dau_mau_stickiness(df).collect()}
    jan = out["2024-01"]
    assert jan["n_days_observed"] == 2 and jan["total_dau"] == 3
    assert jan["mau"] == 2
    assert jan["avg_dau_e2"] == 150
    assert jan["stickiness_e6"] == 750000
    assert out["2024-02"]["stickiness_e6"] == 1000000


def test_hll_rho_rank_of_first_one_bit(spark):
    from firebase_etl_spark.operators.heavy_hitters import (
        HLL_RHO_MAX,
        hll_rho_sql,
    )
    from pyspark.sql import functions as F

    cases = [(0, 27), (1, 26), (2, 25), (3, 25), (1 << 25, 1),
             ((1 << 26) - 1, 1), (1 << 12, 14)]
    df = spark.createDataFrame([(v,) for v, _ in cases], "v long")
    got = {
        r["v"]: r["rho"]
        for r in df.select(
            "v", F.expr(hll_rho_sql("v")).alias("rho")
        ).collect()
    }
    for v, want in cases:
        assert got[v] == want, (v, got[v], want)
    assert HLL_RHO_MAX == 27


def test_hll_report_accuracy_and_register_math(spark):
    from firebase_etl_spark.operators.heavy_hitters import (
        HLL_M,
        hll_report,
    )

    # 500 distinct ids in one key, with every id duplicated (the
    # distinct projection must collapse them before hashing)
    rows = [("a", i % 500) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, u long")
    r = hll_report(df, "k", "u").collect()
    assert len(r) == 1
    row = r[0]
    assert row["n_exact"] == 500
    # registers partition correctly: empty + present = m, and the
    # inverse-power sum is bounded by the all-empty value
    assert 0 <= row["v_empty"] < HLL_M
    assert row["inv_power_sum"] <= HLL_M * (1 << 27)
    # m=64 standard error is ~1.04/8 = 13%; allow 3 sigma
    assert abs(row["est_distinct"] - 500) <= 500 * 0.40
    assert row["err_e6"] == abs(row["est_distinct"] - 500) * 1000000 // 500


def test_hll_finalize_matches_report_estimates(spark):
    """The streaming twin's engine-side estimator (hll_finalize over
    the two integer state columns) must agree with the batch report on
    the same registers."""
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.heavy_hitters import (
        hll_finalize,
        hll_report,
    )

    rows = [("x", i) for i in range(300)] + [("y", i) for i in range(7)]
    df = spark.createDataFrame(rows, "k string, u long")
    rep = {r["g"]: r for r in hll_report(df, "k", "u").collect()}
    base = df.sparkSession.createDataFrame(
        [
            (g, rep[g]["v_empty"], rep[g]["inv_power_sum"])
            for g in rep
        ],
        "g string, v_empty long, inv_power_sum long",
    )
    fin = {
        r["g"]: r
        for r in hll_finalize(base)
        .select("g", "est_raw", "est_distinct")
        .collect()
    }
    for g in rep:
        assert fin[g]["est_raw"] == rep[g]["est_raw"]
        assert fin[g]["est_distinct"] == rep[g]["est_distinct"]
    # the 7-distinct key must take the linear-counting branch and land
    # near-exact (small-range regime)
    assert abs(fin["y"]["est_distinct"] - 7) <= 2


def test_association_rules_confidence_asymmetry(spark):
    from firebase_etl_spark.operators.basket import association_rules

    # item 1 appears in 4 baskets, item 2 only with item 1 (2 baskets):
    # conf(2=>1) = 1.0, conf(1=>2) = 0.5; lift symmetric = 4*2/(4*2)=1? no:
    # pair_count=2, n=4 baskets, c1=4, c2=2 -> lift = 2*4/(4*2) = 1.0
    rows = [(1, 1), (2, 1), (3, 1), (4, 1), (1, 2), (2, 2)]
    df = spark.createDataFrame(rows, "bk long, it long")
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(
            df, "bk", "it", min_support=2, min_confidence_e6=0
        ).collect()
    }
    assert out[(2, 1)]["confidence_e6"] == 1_000_000
    assert out[(1, 2)]["confidence_e6"] == 500_000
    assert out[(1, 2)]["lift_e6"] == 1_000_000
    assert out[(2, 1)]["lift_e6"] == 1_000_000
    assert out[(1, 2)]["pair_count"] == 2


def test_srm_check_textbook_chi_square(spark):
    from firebase_etl_spark.operators.stats import srm_check

    # group a: 60 even / 40 odd users -> chi2 = 400/100 = 4.0 > 3.841
    # group b: 50/50 -> chi2 = 0
    rows = [("a", 2 * i) for i in range(60)]
    rows += [("a", 2 * i + 1) for i in range(40)]
    rows += [("b", 2 * i) for i in range(50)]
    rows += [("b", 2 * i + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "g string, u long")
    out = {r["group_key"]: r for r in srm_check(df, "g", "u").collect()}
    assert out["a"]["chi2_e6"] == 4_000_000 and out["a"]["srm_detected"]
    assert out["b"]["chi2_e6"] == 0 and not out["b"]["srm_detected"]
    assert out["a"]["n_units"] == 100


def test_cusum_alarms_detects_step_shift(spark):
    import datetime as dt

    from firebase_etl_spark.operators.timeseries import cusum_alarms

    # 7 baseline days at 100 events/day, then 5 days at 160 (one-sided
    # up-shift): mu0 = 100, k = 5, h = 50; s_pos after day 8+i is 55(i+1)
    rows = []
    day0 = dt.datetime(2024, 3, 1)
    for d in range(12):
        n = 100 if d < 7 else 160
        rows += [(i, day0 + dt.timedelta(days=d)) for i in range(n)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = cusum_alarms(df).collect()
    assert len(out) == 5
    assert [r["s_pos"] for r in out] == [55, 110, 165, 220, 275]
    assert all(r["s_neg"] == 0 for r in out)
    assert [r["alarm_up"] for r in out] == [True] * 5
    assert out[0]["mu0"] == 100


def test_hard_negatives_excludes_relevant(spark):
    from firebase_etl_spark.operators.retrieval import hard_negatives

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta epsilon"),  # near-dup of probe: rel high
        (2, "alpha beta zeta eta"),             # partial overlap
        (3, "theta iota kappa lambda"),         # disjoint
        (4, "alpha theta iota kappa"),          # one shared term
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = hard_negatives(df, [0], k_pool=10, n_neg=5, rel_threshold=2)
    got = {r["doc_id"]: r for r in out.collect()}
    # doc 1 is j = 4/5 = 0.8 -> rel 4, excluded; doc 3 shares no term so
    # BM25 never retrieves it; docs 2 (j=2/6) is rel 2 -> excluded at
    # threshold 2; doc 4 (j=1/7 ~ 0.14) is rel 1 -> included
    assert 1 not in got and 2 not in got and 3 not in got
    assert 4 in got and got[4]["neg_rank"] == 1 and got[4]["rel"] == 1


def test_rp_distortion_audit_bands_and_sample(spark):
    from firebase_etl_spark.operators.similarity import (
        rp_distortion_audit,
        rp_planes,
    )

    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(64)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = rp_planes(out_dim=32, in_dim=64, seed=13)
    out = rp_distortion_audit(df, planes, sample_cap=16).collect()
    assert sum(r["n_pairs"] for r in out) == 16 * 15 // 2
    assert all(r["n_vectors_total"] == 40 for r in out)
    assert all(r["n_vectors_sampled"] == 16 for r in out)
    # JL stddev at out_dim 32 is ~1/sqrt(32) = 0.177: expect roughly a
    # quarter of pairs beyond |delta| = 0.2 (measured 37/120 on this
    # seed) — the audit REPORTING that coarseness is its entire point
    big = sum(r["n_pairs"] for r in out if r["band"] == 4)
    assert big <= 60
    near = sum(r["n_pairs"] for r in out if r["band"] <= 1)
    assert near >= 30
    for r in out:
        assert r["min_delta_e6"] <= r["max_delta_e6"]


def test_simpson_audit_textbook_reversal(spark):
    from firebase_etl_spark.operators.stats import simpson_audit

    # classic construction: in BOTH strata B beats A, but A concentrates
    # in the high-value stratum, so pooled A beats B (reversal)
    rows = []
    # stratum X (high values): A 80 rows @ 1000, B 20 rows @ 1100
    rows += [("x", 1, 1000)] * 80 + [("x", 0, 1100)] * 20
    # stratum Y (low values): A 20 rows @ 100, B 80 rows @ 200
    rows += [("y", 1, 100)] * 20 + [("y", 0, 200)] * 80
    df = spark.createDataFrame(rows, "s string, arm int, v long")
    out = {
        r["stratum"]: r
        for r in simpson_audit(df, "s", "arm", "v").collect()
    }
    # per stratum B wins (sign -1); pooled A wins (sign +1) -> reversed
    assert out["x"]["sign_stratum"] == -1
    assert out["y"]["sign_stratum"] == -1
    assert out["x"]["sign_overall"] == 1
    assert out["x"]["reversed"] and out["y"]["reversed"]
    assert out["x"]["mean_a_cents"] == 1000
    # pooled means: A = (80*1000+20*100)/100 = 820;
    # B = (20*1100+80*200)/100 = 380


def test_simpson_audit_quotient_tie_remainder_compare(spark):
    from firebase_etl_spark.operators.stats import simpson_audit

    # means 10.5 vs 10.333..: equal truncating quotients (10), the
    # remainder cross-compare must decide the sign
    rows = [("z", 1, 10), ("z", 1, 11), ("z", 0, 10), ("z", 0, 10),
            ("z", 0, 11)]
    df = spark.createDataFrame(rows, "s string, arm int, v long")
    r = simpson_audit(df, "s", "arm", "v").collect()[0]
    assert r["sign_stratum"] == 1 and r["sign_overall"] == 1
    assert not r["reversed"]


def test_cmh_test_textbook_association(spark):
    from firebase_etl_spark.operators.stats import cmh_test

    # strong identical association in both strata: arm 1 almost always
    # yields outcome 1, arm 0 almost never
    rows = []
    for s, size in (("x", 100), ("y", 80)):
        half = size // 2
        rows += [(s, 1, 1)] * (half - 2) + [(s, 1, 0)] * 2
        rows += [(s, 0, 0)] * (half - 2) + [(s, 0, 1)] * 2
    df = spark.createDataFrame(rows, "s string, arm int, out int")
    out = cmh_test(df, "s", "arm", "out").collect()
    assert len(out) == 2
    r = out[0]
    assert r["significant"] and r["cmh_e6"] > 3_841_459
    # hand check stratum x: n=100, n1=50, m1=50, a=48 -> E=25, d=+23
    x = {row["stratum"]: row for row in out}["x"]
    assert x["e_e3"] == 25_000 and x["d_e3"] == 23_000


def test_cmh_test_null_when_no_association(spark):
    from firebase_etl_spark.operators.stats import cmh_test

    # outcome independent of arm in every stratum -> d ~ 0, cmh ~ 0
    rows = []
    for s in ("x", "y"):
        for arm in (0, 1):
            rows += [(s, arm, 1)] * 10 + [(s, arm, 0)] * 10
    df = spark.createDataFrame(rows, "s string, arm int, out int")
    out = cmh_test(df, "s", "arm", "out").collect()
    assert all(r["d_e3"] == 0 for r in out)
    assert all(r["cmh_e6"] == 0 and not r["significant"] for r in out)


def test_kruskal_wallis_detects_shifted_group(spark):
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.stats import kruskal_wallis_report

    # groups a/b identical uniform 0..19; group c shifted +100:
    # strongly significant at 2 dof
    rows = [("a", i % 20) for i in range(200)]
    rows += [("b", i % 20) for i in range(200)]
    rows += [("c", 100 + i % 20) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = kruskal_wallis_report(df, "g", F.col("v")).collect()
    assert len(out) == 3
    r = out[0]
    assert r["n_groups"] == 3 and r["n_total"] == 600
    assert r["significant"] and r["hc_e6"] > 5_991_465
    # groups a and b have identical rank sums by construction
    by = {x["group_key"]: x for x in out}
    assert by["a"]["r2_sum"] == by["b"]["r2_sum"]
    assert by["c"]["q"] > 0 > by["a"]["q"]


def test_kruskal_wallis_null_when_identical(spark):
    from pyspark.sql import functions as F

    from firebase_etl_spark.operators.stats import kruskal_wallis_report

    rows = [(g, i % 10) for g in ("x", "y", "z") for i in range(90)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = kruskal_wallis_report(df, "g", F.col("v")).collect()
    # identical distributions: every q is exactly 0 -> H = 0
    assert all(r["q"] == 0 for r in out)
    assert all(r["h_e6"] == 0 and not r["significant"] for r in out)
    # ties everywhere: the correction engages (c_e9 < 1e9) but H stays 0
    assert all(r["c_e9"] < 1_000_000_000 for r in out)


# --- round-10 additions: rank-algebra completions + corpus richness -------


def test_spearman_perfect_and_tied(spark):
    from firebase_etl_spark.operators.stats import spearman_corr_report
    from pyspark.sql import functions as F

    # perfect monotone (y = x^2): rho = 1 exactly
    df = spark.createDataFrame(
        [(1, 1), (2, 4), (3, 9), (4, 16), (5, 25)], "x long, y long"
    )
    r = spearman_corr_report(df, F.col("x"), F.col("y")).collect()[0]
    assert r["rho_e6"] == 1_000_000 and r["n_rows"] == 5

    # hand-computed tied case: x=[1,1,2,2], y=[1,2,3,4]
    # rx2=[3,3,7,7], ry2=[2,4,6,8] -> rho = 64/sqrt(64*80) = 0.8944272
    df2 = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 3), (2, 4)], "x long, y long"
    )
    r2 = spearman_corr_report(df2, F.col("x"), F.col("y")).collect()[0]
    assert r2["rho_e6"] == 894_427

    # constant axis -> NULL
    df3 = spark.createDataFrame([(1, 1), (1, 2)], "x long, y long")
    assert (
        spearman_corr_report(df3, F.col("x"), F.col("y"))
        .collect()[0]["rho_e6"] is None
    )


def test_kendall_tau_hand_cases(spark):
    from firebase_etl_spark.operators.stats import kendall_tau_report
    from pyspark.sql import functions as F

    # strictly concordant: tau = 1
    df = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "x long, y long")
    r = kendall_tau_report(df, F.col("x"), F.col("y")).collect()[0]
    assert r["concordant"] == 3 and r["discordant"] == 0
    assert r["tau_b_e6"] == 1_000_000

    # tied case: x=[1,1,2], y=[1,2,2] -> C=1, D=0, n1d=n2d=2,
    # tau_b = 2*1/sqrt(4*4) = 0.5
    df2 = spark.createDataFrame([(1, 1), (1, 2), (2, 2)], "x long, y long")
    r2 = kendall_tau_report(df2, F.col("x"), F.col("y")).collect()[0]
    assert r2["concordant"] == 1 and r2["discordant"] == 0
    assert r2["tau_b_e6"] == 500_000


def test_wilcoxon_signed_rank_textbook(spark):
    import math

    from firebase_etl_spark.operators.stats import (
        wilcoxon_signed_rank_report,
    )
    from pyspark.sql import functions as F

    # d = [+1,+2,+3,-4]: W+=6, W-=4 (doubled: 12, 8);
    # z = (12 - 10)/sqrt((2*4*5*9)/12) = 2/sqrt(30)
    df = spark.createDataFrame([(1,), (2,), (3,), (-4,)], "d long")
    r = wilcoxon_signed_rank_report(df, F.col("d")).collect()[0]
    assert r["n_nonzero"] == 4
    assert r["w2_plus"] == 12 and r["w2_minus"] == 8
    assert r["tie_t"] == 0
    assert r["z_e6"] == round(2.0 / math.sqrt(30.0) * 1e6 + 1e-9)
    assert r["significant"] is False

    # zeros drop
    df2 = spark.createDataFrame([(0,), (0,), (5,)], "d long")
    assert (
        wilcoxon_signed_rank_report(df2, F.col("d"))
        .collect()[0]["n_nonzero"] == 1
    )


def test_brown_forsythe_detects_spread(spark):
    from firebase_etl_spark.operators.stats import brown_forsythe_report
    from pyspark.sql import functions as F

    # group a spreads (z sums 40/800), group b constant ->
    # SSB=267, SSW=267, F_e6 = 1e6 * (6-2)/1 = 4e6; chi2(1) crit
    # 3.841e6 < 4e6 -> significant
    rows = [("a", 0), ("a", 10), ("a", 20), ("b", 10), ("b", 10), ("b", 10)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = brown_forsythe_report(df, "g", F.col("v")).collect()
    bya = {r["group_key"]: r for r in out}
    assert bya["a"]["m2"] == 20 and bya["a"]["z_sum"] == 40
    assert bya["b"]["z_sum"] == 0
    assert out[0]["f_e6"] == 4_000_000
    assert out[0]["significant"] is True


def test_dispersion_index_bursty_vs_flat(spark):
    import datetime as dt
    import math

    from firebase_etl_spark.operators.stats import dispersion_index_report

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # flat: 1 event in each of 4 hours -> variance 0, D = 0
    for h in range(4):
        rows.append(("flat", base + dt.timedelta(hours=h)))
    # bursty: 1 event in hour 0, 9 events in hour 1
    rows.append(("bursty", base))
    for _ in range(9):
        rows.append(("bursty", base + dt.timedelta(hours=1)))
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {
        r["group_key"]: r
        for r in dispersion_index_report(df, "g", "ts").collect()
    }
    assert out["flat"]["d_e6"] == 0 and out["flat"]["overdispersed"] is False
    # D = (2*82 - 100)/(10*1) = 6.4; z = 5.4*sqrt(1/2)
    assert out["bursty"]["n_hours"] == 2
    assert out["bursty"]["d_e6"] == 6_400_000
    assert out["bursty"]["z_e6"] == round(
        (6.4 - 1.0) * math.sqrt(1.0 / 2.0) * 1e6 + 1e-9
    )
    assert out["bursty"]["overdispersed"] is True


def test_chao1_hand_case(spark):
    from firebase_etl_spark.operators.lm import chao1_richness_report

    # tokens: a a b c -> D=3, f1=2, f2=1, chao1 = 3 + 4/2 = 5.00
    df = spark.createDataFrame([("g", "a a b c")], "source string, text string")
    r = chao1_richness_report(df, "source", "text").collect()[0]
    assert r["vocab_size"] == 3 and r["f1"] == 2 and r["f2"] == 1
    assert r["chao1_e2"] == 500
    assert r["hapax_ratio_e6"] == 666_666

    # f2 = 0 branch: a b -> chao1 = 2 + 2*1/2 = 3.00
    df2 = spark.createDataFrame([("g", "a b")], "source string, text string")
    assert (
        chao1_richness_report(df2, "source", "text")
        .collect()[0]["chao1_e2"] == 300
    )


def test_ngram_diversity_hand_case(spark):
    from firebase_etl_spark.plans.queries_ext import (
        documents_ngram_diversity,
    )

    # exercised end-to-end at the fixture level elsewhere; hand-check
    # the arithmetic through a tiny frame using the same expressions
    from pyspark.sql import functions as F
    from firebase_etl_spark.operators import text as TX

    df = spark.createDataFrame(
        [("s", "a b a b")], "source string, text string"
    )
    toks = df.select("source", TX.tokenize("text").alias("tk"))
    big = toks.select(
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.size("tk") - 1),
                F.slice(F.col("tk"), 2, F.size("tk") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("b"),
    ).collect()
    assert [r["b"] for r in big] == ["a b", "b a", "a b"]


def test_mcnemar_textbook(spark):
    from firebase_etl_spark.operators.stats import mcnemar_report
    from pyspark.sql import functions as F

    # classic: b=10 flips one way, c=2 the other ->
    # chi2 = 64/12 = 5.333... > 3.841 -> significant
    rows = [(1, 0)] * 10 + [(0, 1)] * 2 + [(1, 1)] * 5 + [(0, 0)] * 3
    df = spark.createDataFrame(rows, "x int, y int")
    r = mcnemar_report(df, F.col("x"), F.col("y")).collect()[0]
    assert r["n_units"] == 20 and r["n_both"] == 5 and r["n_neither"] == 3
    assert r["n_before_only"] == 10 and r["n_after_only"] == 2
    assert r["chi2_e6"] == (64 * 1_000_000) // 12
    assert r["significant"] is True

    # no discordant pairs -> NULL
    df2 = spark.createDataFrame([(1, 1), (0, 0)], "x int, y int")
    r2 = mcnemar_report(df2, F.col("x"), F.col("y")).collect()[0]
    assert r2["chi2_e6"] is None and r2["significant"] is None


def test_runs_test_textbook(spark):
    import math

    from firebase_etl_spark.operators.stats import runs_test_report
    from pyspark.sql import functions as F

    # alternating sequence around median: v = 1,9,1,9,... (n=10) ->
    # median 5 (2*median=10), x alternates -> R = 10 (maximal runs)
    rows = [("a", i, 1 if i % 2 == 0 else 9) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, o long, v long")
    r = runs_test_report(
        df, "g", F.col("v"), order_cols=[F.col("o")]
    ).collect()[0]
    assert r["n_obs"] == 10 and r["n_pos"] == 5 and r["n_neg"] == 5
    assert r["n_runs"] == 10
    # z = (10 - 6)/sqrt(50*40/900) = 4/sqrt(20/9)
    mu = 1 + 2 * 5 * 5 / 10
    var = (2 * 5 * 5) * (2 * 5 * 5 - 10) / (10 * 10 * 9)
    assert r["z_e6"] == round((10 - mu) / math.sqrt(var) * 1e6 + 1e-9)
    assert r["significant"] is True  # maximal alternation is non-random

    # one-block sequence: 1,1,1,9,9,9 -> R = 2, strongly clustered
    rows2 = [("b", i, 1) for i in range(3)] + [
        ("b", 3 + i, 9) for i in range(3)
    ]
    df2 = spark.createDataFrame(rows2, "g string, o long, v long")
    r2 = runs_test_report(
        df2, "g", F.col("v"), order_cols=[F.col("o")]
    ).collect()[0]
    assert r2["n_runs"] == 2

    # median ties drop: 1, 5, 9 with median 5 -> n_obs = 2
    df3 = spark.createDataFrame(
        [("c", 0, 1), ("c", 1, 5), ("c", 2, 9)], "g string, o long, v long"
    )
    assert (
        runs_test_report(df3, "g", F.col("v"), order_cols=[F.col("o")])
        .collect()[0]["n_obs"] == 2
    )


def test_runs_two_phase_matches_single_pass(spark):
    """The distributed segment-and-stitch runs count equals a direct
    single-pass count on a sequence long enough to span partitions."""
    import random

    from firebase_etl_spark.operators.stats import runs_test_report
    from pyspark.sql import functions as F

    rng = random.Random(11)
    vals = [rng.randrange(1000) for _ in range(5000)]
    rows = [("g", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, o long, v long")
    r = runs_test_report(
        df, "g", F.col("v"), order_cols=[F.col("o")]
    ).collect()[0]
    s = sorted(vals)
    m2 = s[len(s) // 2 - 1] + s[len(s) // 2]  # 2 * interpolated median
    signs = [1 if 2 * v > m2 else 0 for v in vals if 2 * v != m2]
    expect_runs = 1 + sum(
        1 for i in range(1, len(signs)) if signs[i] != signs[i - 1]
    )
    assert r["n_obs"] == len(signs)
    assert r["n_runs"] == expect_runs


def test_conditional_entropy_hand_case(spark):
    import math

    from firebase_etl_spark.operators.lm import conditional_entropy_report

    # "a b a c": bigrams (a,b),(b,a),(a,c); c_a(first)=2, c_b=1
    # H = (1/3) * [1*ln(2/1) + 1*ln(1/1) + 1*ln(2/1)] = (2/3) ln 2
    df = spark.createDataFrame(
        [("s", "a b a c")], "source string, text string"
    )
    r = conditional_entropy_report(df, "source", "text").collect()[0]
    assert r["n_bigrams"] == 3 and r["n_distinct_bigrams"] == 3
    # each ln2-term quantizes once at e6 (portable ln agrees with libm
    # well past 1e-6), then the integer mean truncates
    ln2_e6 = round(math.log(2.0) * 1e6 + 1e-9)
    assert r["cond_entropy_e6"] == (2 * ln2_e6) // 3

    # fully deterministic chain "a b a b a b": H(B|A) = 0
    df2 = spark.createDataFrame(
        [("s", "a b a b a b")], "source string, text string"
    )
    assert (
        conditional_entropy_report(df2, "source", "text")
        .collect()[0]["cond_entropy_e6"] == 0
    )


def test_jonckheere_hand_cases(spark):
    import math

    from firebase_etl_spark.operators.stats import jonckheere_trend_report
    from pyspark.sql import functions as F

    # A=[1,2], B=[3,4]: every cross pair ordered -> JT2 = 2*4 = 8;
    # E2 = (16-8)/2 = 4; no ties: Var = [4*3*13 - 36]/72 = 5/3 (which
    # equals the textbook two-sample n1*n2*(N+1)/12 = 2*2*5/12);
    # Var2 = 20/3; z = (8-4)/sqrt(20/3) = 1.549193
    rows = [("a", 1), ("a", 2), ("b", 3), ("b", 4)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = jonckheere_trend_report(df, "g", F.col("v")).collect()[0]
    assert r["n_total"] == 4 and r["n_groups"] == 2
    assert r["jt2"] == 8
    assert r["z_e6"] == round((8 - 4) / math.sqrt(20.0 / 3.0) * 1e6 + 1e-9)

    # tied case: A=[1,1], B=[1,2] -> JT2 = 2 (ties) + 4 (strict) = 6
    rows2 = [("a", 1), ("a", 1), ("b", 1), ("b", 2)]
    df2 = spark.createDataFrame(rows2, "g string, v long")
    assert (
        jonckheere_trend_report(df2, "g", F.col("v"))
        .collect()[0]["jt2"] == 6
    )

    # reversed trend: A=[3,4], B=[1,2] -> JT2 = 0, z negative
    rows3 = [("a", 3), ("a", 4), ("b", 1), ("b", 2)]
    df3 = spark.createDataFrame(rows3, "g string, v long")
    r3 = jonckheere_trend_report(df3, "g", F.col("v")).collect()[0]
    assert r3["jt2"] == 0 and r3["z_e6"] < 0


def test_mann_kendall_hand_cases(spark):
    import math

    from firebase_etl_spark.operators.stats import mann_kendall_report

    # strictly increasing 1..10: S = 45, no ties, VAR18 = 10*9*25 =
    # 2250 -> Var = 125; z = (45-1)/sqrt(125)
    rows = [(t, t) for t in range(1, 11)]
    df = spark.createDataFrame(rows, "t long, x long")
    r = mann_kendall_report(df, "t", "x").collect()[0]
    assert r["n_periods"] == 10 and r["s_stat"] == 45
    assert r["var18"] == 2250
    assert r["z_e6"] == round(44 / math.sqrt(125.0) * 1e6 + 1e-9)
    assert r["significant"] is True

    # constant series: every pair tied -> S = 0, VAR18 = 0 -> NULL z
    df2 = spark.createDataFrame(
        [(t, 7) for t in range(1, 6)], "t long, x long"
    )
    r2 = mann_kendall_report(df2, "t", "x").collect()[0]
    assert r2["s_stat"] == 0 and r2["var18"] == 0
    assert r2["z_e6"] is None and r2["significant"] is None

    # strictly decreasing: S = -C(5,2) = -10, z negative
    df3 = spark.createDataFrame(
        [(t, 10 - t) for t in range(1, 6)], "t long, x long"
    )
    r3 = mann_kendall_report(df3, "t", "x").collect()[0]
    assert r3["s_stat"] == -10 and r3["z_e6"] < 0


def test_theil_sen_hand_cases(spark):
    from firebase_etl_spark.operators.stats import theil_sen_report

    # exact line x = 2t: every pairwise slope is exactly 2.0 -> 2e6
    df = spark.createDataFrame(
        [(t, 2 * t) for t in range(1, 6)], "t long, x long"
    )
    r = theil_sen_report(df, "t", "x").collect()[0]
    assert r["n_periods"] == 5 and r["n_pairs"] == 10
    assert r["median_slope_e6"] == 2_000_000

    # one whale: line slope 10 with a wild last point -- the median
    # slope stays at the line's 10 (robustness, the point of the op)
    df2 = spark.createDataFrame(
        [(1, 0), (2, 10), (3, 20), (4, 30), (5, 1000)], "t long, x long"
    )
    r2 = theil_sen_report(df2, "t", "x").collect()[0]
    assert r2["median_slope_e6"] == 10_000_000


def test_gini_hand_cases(spark):
    from firebase_etl_spark.operators.stats import gini_report

    # perfectly equal: G = 0
    df = spark.createDataFrame(
        [(i, 5) for i in range(1, 5)], "k long, v long"
    )
    assert gini_report(df, "v", "k").collect()[0]["gini_e6"] == 0

    # one holder of everything among n=4: G = (n-1)/n = 0.75
    df2 = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 10)], "k long, v long"
    )
    r2 = gini_report(df2, "v", "k").collect()[0]
    assert r2["n_units"] == 4 and r2["total_value"] == 10
    assert r2["gini_e6"] == 750_000

    # textbook [1,2,3,4]: S=10, S1=1+4+9+16=30, num=60-50=10, den=40
    df3 = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4)], "k long, v long"
    )
    assert gini_report(df3, "v", "k").collect()[0]["gini_e6"] == 250_000

    # all-zero values: S = 0 -> NULL (no concentration defined)
    df4 = spark.createDataFrame(
        [(1, 0), (2, 0)], "k long, v long"
    )
    assert gini_report(df4, "v", "k").collect()[0]["gini_e6"] is None


def test_friedman_hand_cases(spark):
    from firebase_etl_spark.operators.stats import friedman_report

    # perfect agreement across 4 blocks, k=3: chi2 = n(k-1) = 8
    rows = [
        (b, j, x)
        for b in range(4)
        for j, x in (("t1", 1), ("t2", 2), ("t3", 3))
    ]
    df = spark.createDataFrame(rows, "b int, j string, x long")
    r = friedman_report(df, "b", "j", "x").collect()[0]
    assert r["n_blocks"] == 4 and r["k_treatments"] == 3
    assert r["chi2_e6"] == 8_000_000
    assert r["crit_e6"] == 5_991_465
    assert r["significant"] is True

    # all-tied blocks: D4 = 0 -> NULL statistic
    rows2 = [(b, j, 5) for b in range(3) for j in ("t1", "t2")]
    df2 = spark.createDataFrame(rows2, "b int, j string, x long")
    r2 = friedman_report(df2, "b", "j", "x").collect()[0]
    assert r2["chi2_e6"] is None and r2["significant"] is None

    # incomplete blocks drop: block 9 has one treatment only
    rows3 = rows + [(9, "t1", 1)]
    df3 = spark.createDataFrame(rows3, "b int, j string, x long")
    assert friedman_report(df3, "b", "j", "x").collect()[0][
        "n_blocks"
    ] == 4


def test_agreement_kappa_hand_cases(spark):
    from firebase_etl_spark.operators.stats import agreement_kappa_report

    # textbook 2x2: aa=20 ab=5 ba=10 bb=15 -> po=0.7, pe=0.5, k=0.4
    rows = (
        [("a", "a")] * 20 + [("a", "b")] * 5
        + [("b", "a")] * 10 + [("b", "b")] * 15
    )
    df = spark.createDataFrame(rows, "x string, y string")
    r = agreement_kappa_report(df, "x", "y").collect()[0]
    assert r["n_items"] == 50 and r["n_agree"] == 35
    assert r["po_e6"] == 700_000 and r["pe_e6"] == 500_000
    assert r["kappa_e6"] == 400_000

    # systematic disagreement: kappa negative
    rows2 = [("a", "b")] * 5 + [("b", "a")] * 5
    df2 = spark.createDataFrame(rows2, "x string, y string")
    assert agreement_kappa_report(df2, "x", "y").collect()[0][
        "kappa_e6"
    ] < 0

    # single label on both sides: den = 0 -> NULL kappa
    df3 = spark.createDataFrame([("a", "a")] * 4, "x string, y string")
    assert agreement_kappa_report(df3, "x", "y").collect()[0][
        "kappa_e6"
    ] is None


def test_benford_hand_cases(spark):
    from firebase_etl_spark.operators.stats import (
        BENFORD_P_E6,
        benford_report,
    )

    # counts exactly proportional to the e6 Benford masses (scale n =
    # 1e6): chi-square is ~0 and MAD is 0 by construction
    rows = [("g", d, p) for d, p in enumerate(BENFORD_P_E6, start=1)]
    df = spark.createDataFrame(rows, "g string, d int, c long")
    # expand: one row per value with first digit d, weight via
    # explode would be huge -- instead feed values d*10^0 with
    # pre-aggregated weights is not the operator's contract, so use
    # a small exact-proportion corpus: 10 values per digit share at
    # per-mille resolution is NOT exactly Benford; keep it simple
    # with the uniform case + a monotonicity check instead.
    uni = spark.createDataFrame(
        [("g", 100 + 111 * i) for i in range(9)], "g string, v long"
    )
    r = benford_report(uni, "g", "v").collect()[0]
    # digits 1..9 once each -> shares 111111 e6 each
    assert [r[f"c{d}"] for d in range(1, 10)] == [1] * 9
    expect_mad = sum(abs(1_000_000 // 9 - p) for p in BENFORD_P_E6) // 9
    assert r["mad_e6"] == expect_mad
    # 1-heavy sample is closer to Benford than digit-uniform
    heavy = spark.createDataFrame(
        [("g", v) for v in ([1] * 30 + [2] * 18 + [3] * 12 + [4] * 10
                            + [5] * 8 + [6] * 7 + [7] * 6 + [8] * 5
                            + [9] * 4)],
        "g string, v long",
    )
    r2 = benford_report(heavy, "g", "v").collect()[0]
    assert r2["mad_e6"] < r["mad_e6"]
    # zero and negative values drop
    signs = spark.createDataFrame(
        [("g", -5), ("g", 0), ("g", 7)], "g string, v long"
    )
    assert benford_report(signs, "g", "v").collect()[0]["n_values"] == 1


def test_acf_hand_cases(spark):
    from datetime import datetime

    from firebase_etl_spark.operators.timeseries import acf_report

    # day d carries d events, d = 1..8: every lag pairs a perfect
    # linear series -> r = 1 exactly at each lag
    rows = [
        (datetime(2024, 1, d, 12, 0, 0),)
        for d in range(1, 9)
        for _ in range(d)
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = {r["lag"]: r for r in acf_report(df, "ts", 3).collect()}
    assert out[1]["n_pairs"] == 7 and out[1]["r_e6"] == 1_000_000
    assert out[3]["n_pairs"] == 5 and out[3]["r_e6"] == 1_000_000

    # alternating 1/5 counts: lag-1 is perfectly anti-correlated,
    # lag-2 perfectly correlated
    rows2 = [
        (datetime(2024, 2, d, 1, 0, 0),)
        for d in range(1, 9)
        for _ in range(5 if d % 2 == 0 else 1)
    ]
    df2 = spark.createDataFrame(rows2, "ts timestamp")
    out2 = {r["lag"]: r for r in acf_report(df2, "ts", 2).collect()}
    assert out2[1]["r_e6"] == -1_000_000
    assert out2[2]["r_e6"] == 1_000_000


def test_simpson_diversity_hand_cases(spark):
    from firebase_etl_spark.operators.lm import simpson_diversity_report

    # "a a b b": T=4, S2=4, lambda = 4/12 = 1/3; inv = 3.00
    df = spark.createDataFrame(
        [("s", "a a b b")], "source string, text string"
    )
    r = simpson_diversity_report(df, "source", "text").collect()[0]
    assert r["n_tokens"] == 4 and r["vocab_size"] == 2
    assert r["simpson_e6"] == 333_333
    assert r["gini_simpson_e6"] == 666_667
    assert r["inv_simpson_e2"] == 300

    # all same token: lambda = 1 (dominance), diversity 0
    df2 = spark.createDataFrame(
        [("s", "x x x x")], "source string, text string"
    )
    r2 = simpson_diversity_report(df2, "source", "text").collect()[0]
    assert r2["simpson_e6"] == 1_000_000
    assert r2["gini_simpson_e6"] == 0 and r2["inv_simpson_e2"] == 100

    # single token: T < 2 -> NULLs
    df3 = spark.createDataFrame(
        [("s", "solo")], "source string, text string"
    )
    r3 = simpson_diversity_report(df3, "source", "text").collect()[0]
    assert r3["simpson_e6"] is None and r3["inv_simpson_e2"] is None


def test_ols_builders_hand_cases(spark):
    from firebase_etl_spark.operators.timeseries import (
        ols_intercept_e6_sql,
        ols_slope_e6_sql,
    )

    # exact line y = 3x + 2 over x = 0..4: slope 3, intercept 2
    rows = [(x, 3 * x + 2) for x in range(5)]
    df = spark.createDataFrame(rows, "x long, y long")
    mom = df.selectExpr(
        "CAST(count(*) AS BIGINT) AS np",
        "CAST(sum(x) AS BIGINT) AS sx",
        "CAST(sum(y) AS BIGINT) AS sy",
        "CAST(sum(x * y) AS BIGINT) AS sxy",
        "CAST(sum(x * x) AS BIGINT) AS sxx",
    )
    r = mom.selectExpr(
        f"CAST(({ols_slope_e6_sql()}) AS BIGINT) AS s",
        f"CAST(({ols_intercept_e6_sql()}) AS BIGINT) AS i",
    ).collect()[0]
    assert r["s"] == 3_000_000 and r["i"] == 2_000_000

    # constant x: variance 0 -> NULLs
    rows2 = [(7, y) for y in range(5)]
    df2 = spark.createDataFrame(rows2, "x long, y long")
    mom2 = df2.selectExpr(
        "CAST(count(*) AS BIGINT) AS np",
        "CAST(sum(x) AS BIGINT) AS sx",
        "CAST(sum(y) AS BIGINT) AS sy",
        "CAST(sum(x * y) AS BIGINT) AS sxy",
        "CAST(sum(x * x) AS BIGINT) AS sxx",
    )
    r2 = mom2.selectExpr(
        f"CAST(({ols_slope_e6_sql()}) AS BIGINT) AS s"
    ).collect()[0]
    assert r2["s"] is None


def test_weekday_isodow_anchor(spark):
    """orders_dow_seasonality's cross-engine weekday contract:
    Spark weekday()+1 must equal ISO numbering (1=Monday..7=Sunday).
    2024-01-01 was a Monday; 2024-01-07 a Sunday."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2024-01-01",), ("2024-01-07",)], "d string"
    ).select((F.weekday(F.col("d").cast("date")) + 1).alias("iso"))
    assert [r["iso"] for r in df.collect()] == [1, 7]
