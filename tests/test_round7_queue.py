"""Unit tests for the round-7 gate-queue operators (registered round
8): blocked fuzzy entity matching, OHLC downsampling, last-touch
attribution, count-based perplexity deciles, euclidean top-k /
reciprocal-rank fusion, session-path transition mining, per-key skew
profiling, per-class embedding centroids, and passage-level dedup
(the streaming OHLC twin's cross-batch golden lives in
``test_streaming_ohlc.py``). Hand-built frames with known answers;
DuckDB hash parity is covered by the module ORACLE entries via
``tools/check_oracle.py``; hypothesis suites vs independent
Python references live in ``test_round7_properties.py``."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from biometric_stream_processing_spark.operators.linkage import (
    blocked_edit_matches,
)
from biometric_stream_processing_spark.operators.similarity import l2_topk
from biometric_stream_processing_spark.plans.corpus_ops import (
    perplexity_buckets,
)
from biometric_stream_processing_spark.plans.events_ops import (
    last_touch_attribution,
)
from biometric_stream_processing_spark.plans.timeseries_ops import (
    ohlc_bars,
)


# ------------------------------------------------------------- linkage

def test_blocked_edit_matches_blocks_bands_and_verifies(spark):
    left = spark.createDataFrame(
        [(1, "A", "abc"), (2, "A", "abd"), (3, "B", "abc"),
         (4, "A", "abcdef")],
        "l_id long, l_block string, l_key string",
    )
    right = spark.createDataFrame(
        [(10, "A", "abc"), (11, "B", "zzz")],
        "r_id long, r_block string, r_key string",
    )
    out = blocked_edit_matches(
        left, right, ("l_key", "r_key"), [("l_block", "r_block")],
        max_dist=1,
    ).select("l_id", "r_id", "edit_dist")
    got = {tuple(r) for r in out.collect()}
    # (1,10): exact within block A; (2,10): 1 edit; (3,11): same
    # block B but distance 3; (4,10): same block, length band kills
    # it before any edit-distance work
    assert got == {(1, 10, 0), (2, 10, 1)}


def test_blocked_edit_matches_rejects_empty_blocking(spark):
    import pytest

    df = spark.createDataFrame([(1, "a")], "i long, k string")
    with pytest.raises(ValueError, match="block_cols"):
        blocked_edit_matches(df, df, ("k", "k"), [])


# ---------------------------------------------------------------- OHLC

def test_ohlc_bars_picks_open_close_in_event_time_order(spark):
    bar = 900 * 1_000_000
    rows = [
        # bar 0: two events share us=0 — event_id breaks the tie for
        # open; close is the latest us
        (1, 1, "view", 0, 5),
        (2, 1, "view", 0, 7),
        (3, 2, "view", 10_000_000, 3),
        # bar 900: single event
        (4, 1, "view", bar, 9),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "us long, cents long",
    )
    got = {tuple(r) for r in ohlc_bars(ev).collect()}
    assert got == {
        ("view", 0, 5, 7, 3, 3, 3),
        ("view", 900, 9, 9, 9, 9, 1),
    }


# --------------------------------------------------------- attribution

def test_last_touch_attribution_window_and_direct(spark):
    t0 = dt.datetime(2024, 1, 1)
    s = lambda x: t0 + dt.timedelta(seconds=x)        # noqa: E731
    rows = [
        # user 1: view then click then purchase -> credited to click
        (1, 1, "view", 10.0, s(0)),
        (2, 1, "click", 0.0, s(60)),
        (3, 1, "purchase", 100.0, s(120)),
        # user 2: purchase with no prior touch -> direct
        (4, 2, "purchase", 50.0, s(0)),
        # user 3: touch expired (8 days before purchase) -> direct
        (5, 3, "view", 0.0, s(0)),
        (6, 3, "purchase", 25.0, s(8 * 86400)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "value double, ts timestamp",
    )
    got = {tuple(r) for r in last_touch_attribution(ev).collect()}
    assert got == {("click", 1, 100.0), ("direct", 2, 75.0)}


# ------------------------------------------------- perplexity deciles

def test_perplexity_buckets_integer_deciles(spark):
    lp = spark.createDataFrame(
        [(i, 10 + i, -float(10 - i)) for i in range(10)],
        "doc_id long, n_words long, avg_logprob double",
    )
    got = sorted(
        tuple(r) for r in perplexity_buckets(lp).collect()
    )
    # 10 distinct scores, 10 buckets: one per bucket, ascending score
    assert [g[0] for g in got] == list(range(10))
    assert all(g[1] == 1 for g in got)
    assert got[0][3] == -10.0 and got[9][3] == -1.0


def test_perplexity_buckets_ties_share_a_bucket(spark):
    rows = [(i, 5, -2.0) for i in range(5)]
    rows += [(i + 5, 7, -1.0) for i in range(5)]
    lp = spark.createDataFrame(
        rows, "doc_id long, n_words long, avg_logprob double"
    )
    got = sorted(tuple(r) for r in perplexity_buckets(lp).collect())
    # 5+5 ties: offsets 0 and 5 of n=10 -> buckets 0 and 5, never a
    # split of equal scores across buckets
    assert got == [(0, 5, 25, -2.0, -2.0), (5, 5, 35, -1.0, -1.0)]


# ----------------------------------------------------- passage dedup

def test_passage_dedup_first_occurrence_wins(spark):
    from biometric_stream_processing_spark.plans.corpus_ops import (
        passage_dedup_stats, passages,
    )

    A = " ".join(["a"] * 32)      # one full passage of 'a's
    B = " ".join(["b"] * 32)
    C = " ".join(["c"] * 16)      # a short tail passage
    docs = spark.createDataFrame(
        [
            (1, f"{A} {B}"),      # doc 1: A, B (both first occurrences)
            (2, f"{B} {C}"),      # doc 2: B duplicates doc 1's; C new
            (3, f"{A} {A}"),      # doc 3: A twice — both duplicate doc 1
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_passages, r.n_kept, r.kept_words, r.dup_ratio)
           for r in passage_dedup_stats(passages(docs)).collect()}
    assert got == {
        1: (2, 2, 64, 0.0),
        2: (2, 1, 16, 0.5),
        3: (2, 0, 0, 1.0),
    }


# ------------------------------------------------------ l2 top-k / RRF

def test_l2_topk_ranks_by_euclidean_distance(spark):
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 4.0]), (2, [1.0, 0.0]),
         (3, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") == 0)
    got = [tuple(r) for r in
           l2_topk(q, emb, k=2).orderBy("rank").collect()]
    assert got == [(0, 1, 2, 1.0), (0, 2, 3, 2.0)]


def test_embedding_rrf_fusion_invariants(spark):
    from biometric_stream_processing_spark.plans.documents_ops import (
        QUERY_MOD, TOPK, embedding_rrf_fusion,
    )

    sf = "/root/testdata/sf0.001"
    out = embedding_rrf_fusion(spark, sf).collect()
    n_queries = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .where(F.col("vec_id") % QUERY_MOD == 0).count()
    )
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    assert len(per_q) == n_queries
    for rows in per_q.values():
        rows.sort(key=lambda r: r.fused_rank)
        assert [r.fused_rank for r in rows] == list(
            range(1, len(rows) + 1)
        )
        assert len(rows) <= TOPK
        scores = [r.rrf_score for r in rows]
        assert scores == sorted(scores, reverse=True)
        # a candidate on both lists beats the floor of single-list
        # membership: max fused score must exceed any single term
        assert scores[0] > 1.0 / 61 - 1e-9


# --------------------------------------------------- session transitions

def test_transition_counts_gap_breaks_chain(spark):
    from biometric_stream_processing_spark.plans.events_ops import (
        transition_counts,
    )

    t0 = dt.datetime(2024, 1, 1)
    s = lambda x: t0 + dt.timedelta(seconds=x)        # noqa: E731
    rows = [
        # user 1: view -> click -> [31 min gap] -> view -> purchase
        (1, 1, "view", s(0)),
        (2, 1, "click", s(60)),
        (3, 1, "view", s(60 + 1860)),
        (4, 1, "purchase", s(60 + 1920)),
        # user 2: view -> view (transitions never cross users)
        (5, 2, "view", s(0)),
        (6, 2, "view", s(10)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp",
    )
    got = {tuple(r) for r in transition_counts(ev).collect()}
    # the matrix is corpus-wide: prev='view' has 3 surviving steps
    # (the 31-min gap step view->view for user 1 is dropped), each
    # with conditional probability 1/3
    assert got == {
        ("view", "click", 1, 0.333333),
        ("view", "purchase", 1, 0.333333),
        ("view", "view", 1, 0.333333),
    }


# --------------------------------------------------------- skew profile

def test_key_skew_profile_counts_and_share(spark):
    from biometric_stream_processing_spark.plans.events_ops import (
        key_skew_profile,
    )

    rows = [("view", 1)] * 6 + [("view", 2)] * 2 + [("view", 3)] * 2
    ev = spark.createDataFrame(
        [(t, u) for t, u in rows], "event_type string, user_id long"
    )
    got = [tuple(r) for r in key_skew_profile(ev).collect()]
    # counts per user ascending: [2, 2, 6], cnt = 3. Exact lower-rank
    # percentiles (value at rank ceil(p*cnt)): p50 rank (5*3+9)//10=2
    # -> 2; p90 rank (9*3+9)//10=3 -> 6. All BIGINT, no interpolation
    # (round-7 advice: interpolated quantiles were an ulp-parity risk).
    assert got == [("view", 3, 10, 6, 2, 6, 0.6)]


def test_key_skew_profile_single_user_percentiles(spark):
    from biometric_stream_processing_spark.plans.events_ops import (
        key_skew_profile,
    )

    ev = spark.createDataFrame(
        [("click", 9)] * 4, "event_type string, user_id long"
    )
    # one user: every percentile is that user's count, share is 1.0
    got = [tuple(r) for r in key_skew_profile(ev).collect()]
    assert got == [("click", 1, 4, 4, 4, 4, 1.0)]


# ------------------------------------------------------ label centroids

def test_label_centroid_report_exact_means(spark):
    from biometric_stream_processing_spark.plans.documents_ops import (
        label_centroid_report,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile
    import os

    tmp = tempfile.mkdtemp()
    tbl = pa.table({
        "vec_id": pa.array([0, 1, 2], pa.int64()),
        "embedding": pa.array(
            [[1.0, 0.5], [2.0, 0.5], [10.0, -1.0]],
            pa.list_(pa.float32()),
        ),
        "label": pa.array([7, 7, 8], pa.int32()),
    })
    pq.write_table(tbl, os.path.join(tmp, "embeddings.parquet"))
    got = {(r.label, r.dim): r.mean_val
           for r in label_centroid_report(spark, tmp).collect()}
    assert got == {
        (7, 1): 1.5, (7, 2): 0.5, (8, 1): 10.0, (8, 2): -1.0,
    }
