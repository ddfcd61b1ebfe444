"""Plan-hygiene regression tests: the physical plans the engine is
designed around must not silently degrade — filters reach the parquet
scan, projections prune columns, dim joins broadcast (the brief's
`.explain` discipline, checked in CI)."""

from __future__ import annotations

import contextlib
import io

from biometric_stream_processing_spark.plans import analytics, biometric
from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_pruning(spark):
    p = _plan(analytics.q1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read  # unused columns pruned from the scan
    assert "l_quantity" in read


def test_alert_predicate_pushdown(spark):
    """The composite OR-of-ANDs alert predicate must reach the scan."""
    p = _plan(biometric.alert_windows(spark, SF_DIR))
    assert "Or(And(EqualTo(event_type,error),GreaterThan(value,100.0))" in p


def test_dim_joins_broadcast(spark):
    p = _plan(analytics.regional_revenue_rollup(spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_topk_uses_take_ordered(spark):
    """Global sort+limit must compile to TakeOrderedAndProject, not a
    full sort."""
    p = _plan(analytics.top_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p


def test_bucketed_near_dup_is_equi_join_on_cell(spark):
    """The scale-true near-dup variant must pair vectors through an
    EQUI-join on the IVF cell — never a nested-loop/cartesian pair
    enumeration (the 100 TB guarantee of bucket blocking)."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.embedding_similar_pairs_bucketed(spark, SF_DIR))
    joins = [l for l in p.splitlines() if "Join" in l]
    # the centroid-scoring broadcasts are nested-loop by design (tiny
    # side); the pair join itself must be hash-partitioned on _blk
    assert any("SortMergeJoin" in l or "ShuffledHashJoin" in l
               or ("BroadcastHashJoin" in l) for l in joins), p
    assert "_blk" in p


def test_exists_shapes_compile_to_semi_anti(spark):
    """Correlated-subquery shapes must stay semi/anti joins — no
    row-per-match blowup, no cartesian."""
    p = _plan(analytics.late_shipment_priority_counts(spark, SF_DIR))
    assert "LeftSemi" in p
    assert "Cartesian" not in p
    p = _plan(analytics.dormant_customers_by_segment(spark, SF_DIR))
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "Cartesian" not in p


def test_simhash_pairs_no_cartesian(spark):
    """The blocked simhash plan must never materialize the O(n²)
    cross product its brute-force oracle runs — pairs form only inside
    (band, bucket) groups via the aggregated-members expansion."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.simhash_dup_pairs(spark, SF_DIR))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "HashAggregate" in p  # the per-cell member aggregation


def test_fuzzy_matches_equi_join_on_block_cols(spark):
    """The record-linkage plan must hash-join on the blocking columns
    (ExtractEquiJoinKeys pulling the block equalities into join keys,
    leaving the length band + banded levenshtein as residual
    filters) — never a BroadcastNestedLoopJoin/Cartesian, which would
    turn blocking-then-verify into a filtered cross product. This is
    the only skew-sensitive join whose strategy rests on extraction
    from a compound condition, so a Catalyst regression here would be
    silent without this pin (round-7 verdict item 2)."""
    p = _plan(analytics.fuzzy_name_matches(spark, SF_DIR))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p
    # extracted hash keys are the blocking columns ("formatted" mode
    # lists them as Left/Right keys in the join's detail block)
    keys = [l for l in p.splitlines()
            if l.startswith(("Left keys", "Right keys"))]
    assert keys and all("nationkey" in l for l in keys), p
    assert "levenshtein" in p  # verifier rides as a residual, not a key


def test_winnowing_single_id_shuffle(spark):
    """Winnowing is one shuffle (the per-doc window sort) plus the
    distinct — no joins at all in the sketch build."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.doc_winnow_fingerprints(spark, SF_DIR))
    assert "Join" not in p
    assert "Window" in p


def test_clean_corpus_joins_stay_keyed(spark):
    """The corpus filter chain must compose as keyed semi/anti/inner
    joins on doc_id — no cartesian anywhere, including inside the
    embedded LSH near-dup subplan."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.documents_clean_corpus(spark, SF_DIR))
    assert "Cartesian" not in p
    assert "LeftSemi" in p and "LeftAnti" in p


def test_contamination_join_is_fp_equi(spark):
    """The contamination check must stay an equi-join on fp with the
    idf cut applied — no cartesian, and an aggregation (the df filter)
    must precede the pair join."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.contamination_overlaps(spark, SF_DIR))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p


def test_funnel_shuffles_only_on_user_id(spark):
    """The funnel's chained conditional-minima joins must keep every
    shuffle on the funnel key: each Exchange hash-partitions on
    user_id (co-location at scale — one key, no re-keying between
    stages) and no join degenerates to a nested-loop/cartesian pair
    enumeration. At test scale AQE broadcasts the tiny per-user
    aggregates; the Exchange-key assertion is the part that survives a
    100 TB events table, where those broadcasts become co-partitioned
    SortMergeJoins over these same exchanges."""
    from biometric_stream_processing_spark.plans import events_ops

    p = _plan(events_ops.funnel_view_click_purchase(spark, SF_DIR))
    parts = [l for l in p.splitlines() if "Arguments: hashpartitioning" in l]
    assert parts, p  # the aggregations must shuffle somewhere
    assert all("user_id" in l for l in parts), parts
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hash_split_is_shuffle_free_and_pruned(spark):
    """Split assignment must stay a narrow projection: ZERO exchanges
    (the 100 TB split costs one map pass) and a scan reading only the
    id column."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.doc_split_assignment(spark, SF_DIR))
    assert "Exchange" not in p, p
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "text" not in read and "doc_id" in read


def test_stratified_sample_single_stratum_shuffle(spark):
    """The sample shuffles ONCE, on the stratum key, and scans only
    (id, stratum) — payloads never ride through the sort."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.doc_stratified_sample(spark, SF_DIR))
    parts = [l for l in p.splitlines() if "Arguments: hashpartitioning" in l]
    assert len(parts) == 1 and "source" in parts[0], parts
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "text" not in read


def test_pack_greedy_single_shard_shuffle(spark):
    """Sequence packing shuffles once, on the shard key, into the
    grouped-map Pandas fold — and scans only (id, shard, text for the
    token count); no second exchange after the Python stage."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.doc_pack_assignments(spark, SF_DIR))
    parts = [l for l in p.splitlines() if "Arguments: hashpartitioning" in l]
    assert len(parts) == 1 and "source" in parts[0], parts
    assert "FlatMapGroupsInPandas" in p


def test_tfidf_has_no_vocabulary_broadcast(spark):
    """Round-12 swap pin (flipped from the pre-swap broadcast
    assertion): df-per-word must come from a count window over
    ``word`` — NO |vocabulary|-row BroadcastHashJoin build survives
    (a corpus-growing relation can't ship as a broadcast at 100 TB).
    The only broadcast left is the 1-row corpus-count scalar."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.doc_tfidf_keywords(spark, SF_DIR))
    assert "BroadcastHashJoin" not in p, p
    assert "CartesianProduct" not in p
    assert "Window" in p and "word" in p, p
    # exactly one BroadcastNestedLoopJoin NODE is DELIBERATE: the
    # 1-row corpus-count frame joins in with no condition (the scalar-
    # subquery shape; same pattern as similarity.ivf_assign). The
    # formatted explain mentions each node twice (tree + details), so
    # count distinct node ids.
    import re

    bnlj = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p))
    assert len(bnlj) <= 1, p


def test_passages_plan_is_narrow(spark):
    """The passage chunker must be a pure scan → generate projection:
    zero exchanges (it parallelizes with the input splits) and a scan
    pruned to (doc_id, text)."""
    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.doc_passages(spark, SF_DIR))
    assert "Exchange" not in p, p
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "doc_id" in read and "n_chars" not in read


def test_vocab_topk_partial_agg_and_take_ordered(spark):
    """Word counting must partially aggregate before the shuffle
    (map-side combine absorbs stopword skew) and resolve the top-k as
    TakeOrderedAndProject, never a global sort."""
    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.corpus_vocab_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert p.count("HashAggregate") >= 2  # partial + final
    assert "Sort " not in p


def test_unigram_logprob_no_vocabulary_broadcast(spark):
    """Round-10 decomposed form: the per-row term takes the corpus
    word count from a window over ``word`` — NO vocabulary-sized
    relation is ever broadcast (a large corpus could not ship one);
    the only broadcast is the 1-row corpus total, riding as the
    scalar-subquery-shaped BNLJ AFTER the per-doc roll-up, and
    nothing is a cartesian product."""
    import re

    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.doc_unigram_logprob(spark, SF_DIR))
    assert "BroadcastHashJoin" not in p  # the vocab re-join is gone
    assert "CartesianProduct" not in p
    bnlj = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p))
    assert len(bnlj) <= 1, p
    assert re.search(r"Window .*\bword\b", p) or "windowspecdefinition(word" in p


def test_training_corpus_reuses_memoized_decontam(spark):
    """The capstone must embed the MEMOIZED decontamination frame:
    after the gram index materializes (first consumer), the
    training_corpus plan reads the checkpointed blocks — the gram
    aggregation machinery (its unique `_has_eval` membership flag)
    must not be recomputed inside the capstone plan."""
    from biometric_stream_processing_spark.plans import documents_ops

    import re

    # first consumer materializes the lazily-localCheckpointed grams
    documents_ops.decontaminated_train_docs(spark, SF_DIR).count()
    p = _plan(documents_ops.training_corpus(spark, SF_DIR))
    # the gram shingle explode/distinct machinery is entirely behind
    # the checkpoint — never recomputed by the capstone
    assert "_gs" not in p, p
    # exactly ONE df/test-membership aggregation subtree feeds the
    # probe (the single-gram-agg design, not a per-consumer recompute)
    assert p.count("partial_max(CASE WHEN (_split") == 1, p
    # and both consumers of the gram index scan the SAME materialized
    # RDD (the memoized frame, not a second checkpoint)
    rdds = set(re.findall(r"MapPartitionsRDD\[\d+\]", p))
    assert len(rdds) == 1, rdds


def test_token_budget_prefix_sum_is_range_partitioned(spark):
    """The budget selection's running total must be the two-phase
    range-partitioned prefix sum — the corpus-wide window runs
    partitioned by the range partition id, never as one unpartitioned
    WindowExec holding the whole relation."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.corpus_token_budget(spark, SF_DIR))
    assert "rangepartitioning" in p.lower(), p
    # every Window over the corpus rows is keyed by _pid; the only
    # unpartitioned window allowed is the offsets prefix over the
    # partition-count-sized totals relation (its input carries _pt)
    for seg in p.split("\n\n"):
        if "Window" in seg.split("\n")[0] and "_pid" not in seg:
            assert "_pt" in seg, seg


def test_perplexity_rank_offset_windows_bounded_relation_only(spark):
    """Round-12 shape: the decile report's rank offset is ONE
    unpartitioned running-sum window whose input is the granularity-
    BOUNDED distinct-score relation (carries _cnt — ≤ ~10⁷ rows at
    any corpus size, the legitimate single-task case), never the
    per-document relation; no range-partitioned two-phase machinery
    remains in this plan (measured pure stage overhead on a bounded
    input — see the perplexity_buckets docstring A/B). The upstream
    scorer's corpus-count window (round-10 decomposition) is
    partitioned by ``word`` — keyed, never SinglePartition — and is
    whitelisted."""
    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.doc_perplexity_buckets(spark, SF_DIR))
    assert "rangepartitioning" not in p.lower(), p
    for seg in p.split("\n\n"):
        if "Window" in seg.split("\n")[0]:
            assert "_cnt" in seg or "windowspecdefinition(word" in seg, seg


def test_absence_antijoin_shuffles_on_user_id_only(spark):
    """Batch absence detection must stay a single keyed anti-join:
    every exchange hash-partitions on user_id and no nested-loop /
    cartesian pair enumeration appears (the time-range residual rides
    the equi-join, it never becomes the join strategy)."""
    from biometric_stream_processing_spark.plans import events_ops

    p = _plan(events_ops.abandoned_clicks(spark, SF_DIR))
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p
    parts = [l for l in p.splitlines() if "Arguments: hashpartitioning" in l]
    assert all("user_id" in l or "_ru" in l for l in parts), parts


def _shuffles(p: str) -> list[str]:
    """Detail-section shuffle exchanges (skip broadcasts + reuses)."""
    out = []
    lines = p.splitlines()
    for i, l in enumerate(lines):
        ls = l.strip()
        if ls.startswith("(") and ls.endswith(" Exchange"):
            args = next(
                (x for x in lines[i:i + 6] if "Arguments:" in x), ""
            )
            out.append(args.strip())
    return out


def test_timeseries_windows_share_one_user_exchange(spark):
    """SCD-2 history and the z-score scorer run lag/sum/lead windows
    and a grouped agg off a SINGLE user_id hash exchange — and no
    operator ever degrades to a global single-partition window."""
    from biometric_stream_processing_spark.plans import timeseries_ops

    for fn in (timeseries_ops.user_state_history,
               timeseries_ops.running_zscore_flags):
        p = _plan(fn(spark, SF_DIR))
        sh = _shuffles(p)
        assert len(sh) == 1, (fn.__name__, sh)
        assert "user_id" in sh[0]
        assert "SinglePartition" not in p


def test_gapfill_forward_fill_reuses_join_partitioning(spark):
    """The spine explode rides the per-user span aggregation and the
    forward-fill window reuses the join's user partitioning — two
    keyed shuffles total ((user, hour) aggregate + user span), no
    extra exchange for the window, no single-partition stage."""
    from biometric_stream_processing_spark.plans import timeseries_ops

    p = _plan(timeseries_ops.user_hourly_gapfill(spark, SF_DIR))
    assert len(_shuffles(p)) <= 2, _shuffles(p)
    assert "SinglePartition" not in p
    assert "Cartesian" not in p


def test_posting_lists_two_shuffles_dedup_before_term_key(spark):
    """Inverted-index build: shuffle 1 is the (word, doc_id) distinct
    (map-side partial dedup guards stopword volume), shuffle 2 moves
    the already-distinct pairs to the term key where window + agg
    share partitioning."""
    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.term_posting_lists(spark, SF_DIR))
    sh = _shuffles(p)
    assert len(sh) == 2, sh
    assert "word" in sh[0] and "doc_id" in sh[0]   # pair-key dedup
    assert "word" in sh[1] and "doc_id" not in sh[1]  # term key
    assert "HashAggregate" in p  # partial dedup exists


def test_bigram_model_joins_are_optimizer_sized(spark):
    """Round 10: the model/vocabulary equi-joins carry NO broadcast
    hint — at bench scale the optimizer still broadcasts them from
    its own stats (asserted below), and at corpus scale it is free
    to pick a shuffle join, which a forced hint would forbid (the
    retired "MB-scale at any corpus size" claim). The only
    nested-loop is the 1-row corpus-total scalar join; no cartesian
    anywhere."""
    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.doc_bigram_logprob(spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 3  # optimizer's choice here
    assert "Cartesian" not in p
    import re

    bnlj = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p))
    assert len(bnlj) <= 1, p


def test_orders_profile_hash_expand_no_sorted_distinct(spark):
    """The profile's two deliberate passes (now collected eagerly and
    merged driver-side, so the pins target the internal agg frames):
    the multi-countDistinct Expand must stay HASH-aggregated (fusing
    string min/max into it would force a full-table SortAggregate —
    the measured 10× trap), the min/max/null pass is a global fold,
    and the returned profile itself is a pure LocalTableScan — no
    parallelize job, no join stages."""
    from biometric_stream_processing_spark.plans import analytics
    from biometric_stream_processing_spark.sources.readers import (
        load_table,
    )

    o = load_table(spark, SF_DIR, "orders")
    stat_df, dist_df = analytics._profile_agg_frames(o)
    pd_ = _plan(dist_df)
    assert "Expand" in pd_
    assert "HashAggregate" in pd_
    # no full-table sort anywhere in either pass: SortAggregate may
    # appear only for the global (keyless) min/max fold, which needs
    # no Sort node
    for p in (pd_, _plan(stat_df)):
        lines = p.splitlines()
        sort_nodes = [l for l in lines
                      if l.strip().split(" ")[-1] == "Sort"
                      or "+- Sort " in l]
        assert not sort_nodes, sort_nodes
    p = _plan(analytics.orders_profile(spark, SF_DIR))
    assert "LocalTableScan" in p, p
    assert "Exchange" not in p, p


def test_triangle_stats_no_cartesian_wedge_join(spark):
    """Degree-ordered triangle counting: wedge build and closing-edge
    joins must be keyed (hash/SMJ) — never a cartesian expansion."""
    from pyspark.sql import functions as F

    from biometric_stream_processing_spark.operators.dedup import (
        triangle_stats,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4)], "id_a long, id_b long"
    )
    p = _plan(triangle_stats(edges))
    assert "Cartesian" not in p
    # the three scalar-summary combines are 1-row×1-row nested loops;
    # the wedge and closing-edge joins themselves must be equi-joins
    joins = [l for l in p.splitlines() if "Join Inner" in l
             or "SortMergeJoin" in l or "ShuffledHashJoin" in l
             or "BroadcastHashJoin" in l]
    assert any("HashJoin" in l or "SortMergeJoin" in l for l in joins), p


def test_join_strategy_hints_are_respected(spark):
    """The hint surface: the same logical join compiles to the hinted
    physical strategy — merge forces SMJ where the dim would
    otherwise broadcast, shuffle_hash forces a hash join build."""
    from biometric_stream_processing_spark.sources.readers import (
        load_table,
    )

    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    p = _plan(o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"]))
    assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p
    p = _plan(
        o.join(c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"])
    )
    assert "ShuffledHashJoin" in p
    p = _plan(
        o.join(c.hint("broadcast"), o["o_custkey"] == c["c_custkey"])
    )
    assert "BroadcastHashJoin" in p


def test_cross_modal_reuses_both_memo_caches(spark):
    """The cross-modal audit must be joins over the MEMOIZED subtrees
    (round-5 verdict hardening item): with the LSH pair persist and
    the embedding-cluster memo warm, its plan reads the cached pair
    blocks (InMemoryTableScan) and the checkpointed cluster labels
    (Scan ExistingRDD) — zero recomputation of the minhash band chain
    or the embedding cosine closure."""
    from biometric_stream_processing_spark.plans import documents_ops

    pairs = documents_ops.minhash_lsh_pairs(spark, SF_DIR)
    pairs.persist()
    try:
        documents_ops.embedding_dup_clusters(spark, SF_DIR).count()
        p = _plan(documents_ops.cross_modal_dup_agreement(spark, SF_DIR))
        # LSH candidate pairs come from the persisted subtree
        assert "InMemoryTableScan" in p, p
        # cluster labels come from the memoized closure's checkpoints
        assert "Scan ExistingRDD" in p, p
        # the embedding cosine machinery (zip_with/aggregate folds)
        # is never recomputed inside this plan
        assert "zip_with" not in p, p
        # the only row-hash left is the verify stage's shingle hash —
        # the full band chain (one xxhash64 per band) must not creep
        # back in front of the cached pairs
        assert p.count("xxhash64") <= 1, p
    finally:
        pairs.unpersist()


def test_gram_family_reuses_doc_term_matrix(spark):
    """Round-6 design pin: with the shared doc-term matrix memo warm,
    every gram-family consumer substitutes the cached matrix
    (InMemoryTableScan in the physical plan) instead of re-running
    the corpus tokenize + explode + (doc,word) shuffle. (The
    formatted explain prints the cached relation's ORIGINAL plan
    under InMemoryRelation, so tokenizer nodes legitimately appear
    inside that block — the pin is the substitution itself.)"""
    from biometric_stream_processing_spark.plans import (
        corpus_ops,
        documents_ops,
    )

    corpus_ops.shared_doc_tf(spark, SF_DIR).count()
    for df in (
        documents_ops.doc_tfidf_keywords(spark, SF_DIR),
        corpus_ops.doc_repetition_stats(spark, SF_DIR),
        corpus_ops.doc_unigram_logprob(spark, SF_DIR),
        corpus_ops.corpus_vocab_topk(spark, SF_DIR),
    ):
        p = _plan(df)
        assert "InMemoryTableScan" in p, p


def test_overlap_matrix_reuses_split_gram_index(spark):
    """Round-6 design pin: split_overlap_matrix must derive from the
    SHARED memoized split-gram index (shared_split_grams — the same
    relation the decontamination cut materializes), not a private
    re-tokenization. With the memo warm its plan reads the
    checkpointed gram rows (Scan ExistingRDD) and contains zero
    tokenizer nodes — no explode, no gram md5."""
    from biometric_stream_processing_spark.plans import documents_ops

    documents_ops.decontaminated_train_docs(spark, SF_DIR).count()
    p = _plan(documents_ops.split_overlap_matrix(spark, SF_DIR))
    assert "Scan ExistingRDD" in p, p
    assert "explode" not in p, p
    assert "md5" not in p, p


def test_leading_debounce_single_exchange_partition_batched(spark):
    """throttle_leading (round-7 rework): ONE exchange on the key, an
    in-partition sort, and a partition-batched MapInPandas — never
    the per-group FlatMapGroupsInPandas whose per-user Arrow slicing
    the rework removed."""
    p = _plan(biometric.alerts_leading_debounce(spark, SF_DIR))
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" not in p
    # the debounce's key repartition and in-partition (key, ts) sort
    assert "hashpartitioning(user_id" in p
    assert "+- Sort (" in p  # the in-partition (key, ts) sort feeds it


def test_ewma_single_exchange_partition_batched(spark):
    """ewma (round-7 rework, same lesson as the debounce): one key
    repartition + in-partition (user, us, event_id) sort feeding a
    partition-batched MapInPandas — the per-group
    FlatMapGroupsInPandas Arrow slicing is gone (3.1→0.6 s at
    sf0.1)."""
    from biometric_stream_processing_spark.plans import timeseries_ops

    p = _plan(timeseries_ops.user_value_ewma(spark, SF_DIR))
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" not in p
    assert "hashpartitioning(user_id" in p
    assert "+- Sort (" in p


def test_attribution_single_user_exchange_no_join(spark):
    """purchase_attribution: the full-data shuffle is the single
    user_id exchange feeding the 1-PRECEDING frame; the only other
    exchange is the per-channel rollup over the tiny per-conversion
    relation. No self-join, no single-partition window."""
    from biometric_stream_processing_spark.plans import events_ops

    p = _plan(events_ops.purchase_attribution(spark, SF_DIR))
    sh = _shuffles(p)
    assert len(sh) == 2, sh
    assert "user_id" in sh[0]
    for marker in ("SortMergeJoin", "BroadcastHashJoin", "Cartesian",
                   "SinglePartition"):
        assert marker not in p, marker


def test_transitions_full_data_shuffles_once_on_user(spark):
    """session_transitions: the lag() rides ONE user_id exchange; the
    two later exchanges carry only the |types|²-bounded transition
    relation (count agg + denominator window). No joins, no
    single-partition stage."""
    from biometric_stream_processing_spark.plans import events_ops

    p = _plan(events_ops.session_transitions(spark, SF_DIR))
    sh = _shuffles(p)
    assert len(sh) == 3, sh
    assert "user_id" in sh[0]
    assert "prev_type" in sh[1] and "prev_type" in sh[2]
    for marker in ("SortMergeJoin", "BroadcastHashJoin", "Cartesian",
                   "SinglePartition"):
        assert marker not in p, marker


def test_skew_profile_second_level_shuffles_reduced_relation(spark):
    """event_skew_profile: only the (type, user) count relation
    shuffles full data; the rank window and final rollup run over the
    already-reduced relation keyed by event_type."""
    from biometric_stream_processing_spark.plans import events_ops

    p = _plan(events_ops.event_skew_profile(spark, SF_DIR))
    sh = _shuffles(p)
    assert len(sh) == 2, sh
    assert "event_type" in sh[0] and "user_id" in sh[0]
    assert "event_type" in sh[1] and "user_id" not in sh[1]
    assert "SinglePartition" not in p


def test_ohlc_one_exchange_partial_agg_no_row_lists(spark):
    """event_type_ohlc: ONE (type, bar) exchange with a partial
    aggregate before it (min_by/max_by fold map-side like min/max);
    no window operator, no per-bar collect_list."""
    from biometric_stream_processing_spark.plans import timeseries_ops

    p = _plan(timeseries_ops.event_type_ohlc(spark, SF_DIR))
    sh = _shuffles(p)
    assert len(sh) == 1, sh
    assert "event_type" in sh[0]
    for marker in ("WindowExec", "collect_list", "SinglePartition"):
        assert marker not in p, marker


def test_centroids_one_label_dim_exchange_no_vector_lists(spark):
    """label_centroid_report: posexplode feeds ONE (label, dim) hash
    aggregate — components fold map-side; no per-label vector list
    ever materializes."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.label_centroid_report(spark, SF_DIR))
    sh = _shuffles(p)
    assert len(sh) == 1, sh
    assert "label" in sh[0]
    for marker in ("collect_list", "SinglePartition", "WindowExec"):
        assert marker not in p, marker


def test_passage_dedup_hash_then_doc_exchanges_only(spark):
    """doc_passage_dedup: the first-occurrence window shuffles on
    passage_hash (16-byte keys — passage text never rides an
    exchange), the per-doc rollup on doc_id; nothing else, no
    single-partition stage."""
    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.doc_passage_dedup(spark, SF_DIR))
    sh = _shuffles(p)
    assert len(sh) == 2, sh
    assert "passage_hash" in sh[0]
    assert "doc_id" in sh[1]
    assert "SinglePartition" not in p


def test_duplicate_spans_gram_then_doc_exchanges_only(spark):
    """doc_duplicate_spans (round-9 queue; round-11 window rework):
    the single-file spread round-robin, then the gram relation
    shuffles EXACTLY ONCE on its 16-byte hash — the min/max
    duplicated-doc window rides that one exchange (the round-9 shape
    paid a second _gh pass for the count-distinct + flag-back semi
    join, hidden behind a localCheckpoint that double-billed) — then
    ONE doc_id exchange feeds all three windows and both rollups
    (subset-clustering reuse: hash(doc_id) satisfies every later
    (doc_id, …) requirement). Never a cartesian/NLJ pair enumeration,
    never a single-partition stage."""
    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.doc_duplicate_spans(spark, SF_DIR))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    sh = _shuffles(p)
    assert len(sh) == 3, sh
    assert "RoundRobin" in sh[0]
    assert "_gh" in sh[1]
    assert "doc_id" in sh[2] and "_gh" not in sh[2]
    assert "SinglePartition" not in p


def test_int8_recall_rank_windows_share_one_exchange(spark):
    """embedding_int8_recall (round-9 queue): queries broadcast over
    the corpus (the declared exact-brute-force demo shape, as
    cosine_topk), quantized arrays computed BEFORE the join, and both
    integer rank windows ride ONE (query_id) exchange — a second
    exchange would double the pair relation's shuffle. No Python on
    the path."""
    from biometric_stream_processing_spark.plans import documents_ops

    p = _plan(documents_ops.embedding_int8_recall(spark, SF_DIR))
    sh = _shuffles(p)
    assert len(sh) == 2, sh           # _spread round-robin + query_id
    assert "query_id" in sh[1]
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "SinglePartition" not in p


def test_source_kl_single_stf_materialization(spark):
    """source_unigram_kl (round-10 decomposed form): the (source,
    word) rollup appears in exactly ONE exchange — the per-row term
    needs only the ctf window over ``word`` and the per-source parts
    join AFTER the roll-up, so no consumer re-derives the corpus
    pass and no vocabulary-sized relation is broadcast (the only
    broadcast is the narrow (doc_id, source) projection). The one
    SinglePartition exchange is the final window over the
    already-aggregated |sources|-row relation — intentional and
    size-bounded by construction."""
    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.source_unigram_kl(spark, SF_DIR))
    assert "Cartesian" not in p
    sh = _shuffles(p)
    both = [s for s in sh if "source" in s and "word" in s]
    assert len(both) == 1, sh
    assert "SortMergeJoin" not in p
    # the docs-projection join on doc_id is the plan's ONLY join
    # (formatted explain names each node twice: tree + details)
    assert p.count("BroadcastHashJoin") == 2
    assert "SinglePartition" in p  # the |sources|-row final window


def test_cadence_profile_single_user_exchange(spark):
    """user_cadence_profile (round-9 queue): the lag() window and the
    moment aggregate both ride ONE user_id exchange (subset-clustering
    reuse) — no second full-data shuffle, no cartesian, no Python."""
    from biometric_stream_processing_spark.plans import events_ops

    p = _plan(events_ops.user_cadence_profile(spark, SF_DIR))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    sh = _shuffles(p)
    assert len(sh) == 1, sh
    assert "user_id" in sh[0]
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "SinglePartition" not in p


def test_constraint_report_single_scan_for_non_referential_rules(spark):
    """Round-15 merge pin: the unique-rule class folds into the
    row-rule scan-aggregation, so the WHOLE report reads the fact
    table exactly TWICE — once for the merged scan-agg, once for the
    FK anti-join probe side (three scans before the merge; at 100 TB
    the retired scan is the dominant saving). A refactor that splits
    unique back out re-grows the scan count and fails here."""
    p = _plan(analytics.orders_constraint_report(spark, SF_DIR))
    # Count SCAN NODES, not raw path echoes (round-16 advice): in
    # formatted explain each scan node prints its path exactly once,
    # on its details-block Location line — counting those is stable
    # against a format change that echoes the path elsewhere.
    n_orders_scans = sum(
        1 for line in p.splitlines()
        if "Location" in line and "orders.parquet" in line
    )
    assert n_orders_scans == 2, (
        f"expected 2 scans of orders (merged agg + FK probe), "
        f"plan has {n_orders_scans}"
    )


def test_duplicate_spans_gram_build_is_codegen_and_binary_keyed(spark):
    """ROUND-18 GRAM-PASS PIN: the gram string is assembled AFTER the
    posexplode — concat_ws+md5 sit in the flat projection (whole-stage
    codegen), not inside an interpreted transform() lambda over the
    shingle array — and the key riding the flag exchange is
    unhex(md5(...)): 16 bytes instead of a 32-char hex string on the
    one corpus-sized exchange and its window sort (equality classes
    unchanged — unhex is injective on md5 output)."""
    import re

    from biometric_stream_processing_spark.plans import corpus_ops

    p = _plan(corpus_ops.doc_duplicate_spans(spark, SF_DIR))
    # the implicit cast to binary renders differently across Spark
    # versions; the binary md5 key over concat_ws is what matters
    assert re.search(r"unhex\(md5\((cast\()?concat_ws\(", p), p
    # the old shape evaluated the gram concat inside the shingles()
    # transform lambda; the explode-first form must not
    assert "transform(arrays_zip" not in p, p


def test_simhash_pairs_fold_runs_behind_the_spread(spark):
    """ROUND-18 PIN: the pairs path materializes a simhash per doc,
    so its fingerprint fold must run AFTER the single-split
    round-robin spread (the sf-scale corpus scans as one task; the
    fold on one core was the measured wall). simhash_fingerprints
    itself stays a pure projection — no spread exchange (its bench
    count() column-prunes the fold, and the no-shuffle projection is
    the scale-true fingerprint shape)."""
    from biometric_stream_processing_spark.plans import documents_ops

    pairs = _plan(documents_ops.simhash_dup_pairs(spark, SF_DIR))
    sh = _shuffles(pairs)
    assert any("RoundRobin" in s for s in sh), sh
    fps = _plan(documents_ops.simhash_fingerprints(spark, SF_DIR))
    assert not _shuffles(fps), _shuffles(fps)
