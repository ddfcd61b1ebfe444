"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship biometric-alert pipeline on
sf0.001; ``queries()``/``oracle_sql()`` enumerate every implemented
operator from SURVEY.md §2 with DuckDB-checkable SQL twins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from biometric_stream_processing_spark.plans import (
    analytics,
    biometric,
    corpus_ops,
    documents_ops,
    events_ops,
    timeseries_ops,
)
from biometric_stream_processing_spark.session import tune_session
from biometric_stream_processing_spark.streaming import (
    pipeline as streaming_pipeline,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full biometric alert pipeline (union → sliding
    windows → existential flags → filter → throttle) on sf0.001."""
    tune_session(spark)
    return biometric.alerts_throttled(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)
        run.__wrapped__ = fn  # tools/gate_sources.py hashes the target
        return run

    all_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    all_q["biometric_union"] = _wrap(biometric.biometric_union)
    all_q["alert_windows"] = _wrap(biometric.alert_windows)
    all_q["alerts_throttled"] = _wrap(biometric.alerts_throttled)
    all_q["alerts_leading_debounce"] = _wrap(biometric.alerts_leading_debounce)
    # One registry per plans module (the round-5 wave lives in its
    # module's QUERIES dict like every other batch query); streaming
    # entries follow explicitly. Registration ORDER is decided solely
    # by the front/tail lists below — every batch entry appears there,
    # so merge order here is immaterial.
    for name, fn in {**events_ops.QUERIES, **analytics.QUERIES,
                     **documents_ops.QUERIES, **corpus_ops.QUERIES,
                     **timeseries_ops.QUERIES}.items():
        all_q[name] = _wrap(fn)
    all_q["streaming_approx_users"] = _wrap(
        streaming_pipeline.streaming_approx_users
    )
    all_q["streaming_native_dedup"] = _wrap(
        streaming_pipeline.streaming_native_dedup
    )
    all_q["streaming_funnel"] = _wrap(streaming_pipeline.streaming_funnel)
    all_q["streaming_anomalies"] = _wrap(
        streaming_pipeline.streaming_anomalies
    )
    all_q["streaming_state_history"] = _wrap(
        streaming_pipeline.streaming_state_history
    )
    all_q["streaming_alerts"] = _wrap(
        streaming_pipeline.biometric_alerts_streaming
    )
    all_q["streaming_alert_windows_update"] = _wrap(
        streaming_pipeline.alert_windows_update_stream
    )
    all_q["streaming_alert_windows_complete"] = _wrap(
        streaming_pipeline.alert_windows_complete_stream
    )
    all_q["streaming_dedup_canonicals"] = _wrap(
        streaming_pipeline.streaming_dedup_canonicals
    )
    all_q["streaming_dedup_merge"] = _wrap(
        streaming_pipeline.streaming_dedup_merge
    )
    all_q["streaming_interval_pairs"] = _wrap(
        streaming_pipeline.streaming_interval_pairs
    )
    all_q["streaming_enriched_segment_counts"] = _wrap(
        streaming_pipeline.streaming_enriched_segment_counts
    )
    all_q["streaming_session_stats"] = _wrap(
        streaming_pipeline.streaming_session_stats
    )
    all_q["streaming_vocab_topk"] = _wrap(
        streaming_pipeline.streaming_vocab_topk
    )
    all_q["streaming_abandoned_clicks"] = _wrap(
        streaming_pipeline.streaming_abandoned_clicks
    )
    all_q["streaming_outer_pairs"] = _wrap(
        streaming_pipeline.streaming_outer_pairs
    )
    all_q["streaming_ohlc"] = _wrap(streaming_pipeline.streaming_ohlc)
    all_q["streaming_attribution"] = _wrap(
        streaming_pipeline.streaming_attribution
    )
    all_q["streaming_transitions"] = _wrap(
        streaming_pipeline.streaming_transitions
    )
    all_q["streaming_ewma"] = _wrap(streaming_pipeline.streaming_ewma)
    # round-10 queue head, registered round 11: n/Σ/Σ² keyed moment
    # state sharing the batch cadence oracle + cadence_finish dag
    all_q["streaming_user_cadence"] = _wrap(
        streaming_pipeline.streaming_user_cadence
    )
    # registered round 12 (queued since round 10 / round 11): ORC
    # write→read round-trip parity vs a parquet-side oracle — the one
    # I/O format previously without an oracled entry
    all_q["orc_interchange_report"] = _wrap(
        analytics.orc_interchange_report
    )
    # registered round 12 (round-11 queue): streaming hourly gap-fill
    # twin — three longs of keyed state, all-integer output,
    # order-free per the state.py ledger; shares the batch gap-fill
    # oracle
    all_q["streaming_user_gapfill"] = _wrap(
        streaming_pipeline.streaming_user_gapfill
    )

    # The driver's correctness gate records only the first ~50 entries
    # in dict order, so registration order decides which queries get a
    # driver verdict. Rotation policy (CI-enforced by
    # tests/test_gate_rotation.py): with N registered entries
    # and a GATE_CAP≈50 verdict prefix, the minimal feasible
    # freshness window is K = ceil(N / 50) RECORDED rounds (the
    # window anchors on recorded rounds — the driver skipped
    # recording round 8 entirely, and a gap in the sequence costs
    # nothing); each round's prefix drains the oldest debt first,
    # then first-verdicts for new entries, then source-changed
    # re-verifications, then oldest-fresh fills. Registration order
    # is also bench order, so shared-subtree owners precede their
    # composites (the bench records each shared memo's first consumer
    # in BENCH_DETAIL's memo_owner_observed).
    #
    # ROUND 19 (recorded rounds r1-r7, r9-r18): r16 leaves the
    # window when this round records (post-recording window
    # {r17, r18, r19}), so the 49-entry r16-green remainder fills the
    # front — derived via tools/round_plan.py against
    # CORRECTNESS_r{16,17,18}: 49 due (the 50-entry r16 block minus
    # embedding_kmeans_quality, which round 18 pre-verified as its
    # spare), r17 block 50, r18 block 50 — 49+50+50 = 149. ONE
    # spare slot.
    # SPARE (position 50): streaming_user_cadence — its state kernel
    # moved onto state.py's shared admission helpers, so its deep
    # fingerprint changed and it must re-enter the prefix; it is
    # r17-green, so the slot also pre-pays one round-20 entry.
    # The other five state-kernel ports (streaming_anomalies,
    # streaming_ewma, streaming_state_history, streaming_attribution,
    # streaming_transitions) are already in the due block.
    front = [
        # --- last green r16 (oldest debt) IN ITS r16 GATE ORDER —
        # 49 entries ---
        "decontaminated_train_docs", "training_corpus",
        "doc_repetition_stats", "nation_pair_volume",
        "embedding_srp_pairs", "ngram_jaccard_dups",
        "documents_clean_corpus", "embedding_dup_clusters",
        "near_dup_representatives", "embedding_similar_pairs",
        "user_state_history", "user_hourly_gapfill",
        "running_zscore_flags", "value_histogram",
        "user_retention_cohorts", "user_rolling_median",
        "doc_weighted_sample", "corpus_mixture_sample",
        "above_median_length_docs", "split_overlap_matrix",
        "corpus_heavy_hitters", "term_posting_lists",
        "corpus_pmi_collocations", "hll_user_rollup",
        "source_quality_ols", "multimodal_decode_png",
        "sql_nation_revenue", "parse_props_variant",
        "dynamic_session_stats", "salted_segment_revenue",
        "dup_graph_stats", "dup_graph_pagerank",
        "dup_graph_bfs_depths", "ivf_recall_report",
        "streaming_approx_users", "streaming_native_dedup",
        "embedding_kmeans_cells", "streaming_anomalies",
        "streaming_state_history", "embedding_int8_recall",
        "source_unigram_kl", "streaming_ewma", "user_cadence_profile",
        "streaming_attribution", "streaming_transitions",
        "doc_unigram_logprob", "biometric_union",
        "streaming_enriched_segment_counts",
        "orders_constraint_report",
        # --- spare slot: source-changed re-verification (r17-green,
        # pre-paying round-20 debt) ---
        "streaming_user_cadence",
    ]
    tail = [
        # ROUND-20 OBLIGATION (K=3 on recorded rounds; once round 19
        # records, the window is {r17, r18, r19} and r17 leaves when
        # round 20 records): the 49-entry r17-green remainder below
        # (alert_windows .. doc_tfidf_keywords, r17 gate order — the
        # 50-entry r17 block minus streaming_user_cadence, pre-verified
        # as round 19's spare) fills the round-20 front, leaving ONE
        # spare slot. Re-derive from the CORRECTNESS files via
        # tools/round_plan.py, do not trust this count.
        # ROUND-21 OBLIGATION: the full 50-entry r18 block (second
        # group below).
        #
        # --- last green r17 (r17 gate order preserved minus the
        # cadence spare; rotates front in round 20) ---
        "alert_windows", "alerts_throttled",
        "alerts_leading_debounce", "order_counts_unpivot",
        "status_priority_cube", "distinct_user_type_pairs",
        "top_orders", "customers_without_orders",
        "customer_running_totals", "dormant_customers_by_segment",
        "users_with_both_streams", "order_price_deciles",
        "order_priority_pivot", "customers_with_orders",
        "users_never_purchasing", "approx_distinct_bounds",
        "value_percentiles", "doc_split_assignment",
        "doc_stratified_sample", "doc_pack_assignments",
        "multimodal_decode_audio", "multimodal_resize_images",
        "doc_passages", "user_value_rolling_1h", "q1_pricing_summary",
        "late_shipment_priority_counts", "parts_above_brand_avg",
        "disjunctive_revenue", "top_customers_per_segment",
        "abandoned_clicks", "source_dedup_report",
        "source_quality_report", "corpus_vocab_topk",
        "embedding_pca_quality", "orders_profile",
        "dedup_pipeline_report", "streaming_alerts",
        "streaming_dedup_merge", "streaming_interval_pairs",
        "streaming_session_stats", "streaming_vocab_topk",
        "streaming_abandoned_clicks", "streaming_outer_pairs",
        "regional_revenue_rollup", "q5_asia_revenue",
        "doc_winnow_fingerprints", "user_value_ewma",
        "contamination_overlaps", "doc_tfidf_keywords",
        # --- last green r18 (the round-18 front, r18 gate order
        # preserved; rotates front in round 21) ---
        "dedup_exact", "minhash_lsh_pairs", "near_dup_clusters",
        "simhash_fingerprints", "simhash_dup_pairs", "embedding_topk",
        "embedding_ivf_topk", "embedding_similar_pairs_bucketed",
        "corpus_token_budget", "cross_modal_dup_agreement",
        "asof_latest_reading", "cogrouped_purchase_values",
        "event_type_stats", "funnel_view_click_purchase",
        "approx_percentile_bounds", "doc_text_stats",
        "doc_token_counts", "doc_lang_quality",
        "streaming_alert_windows_update",
        "streaming_alert_windows_complete",
        "streaming_dedup_canonicals", "multimodal_meta",
        "multimodal_frame_samples", "multimodal_features",
        "parse_props_json", "serialize_events_json",
        "interval_join_pairs", "full_outer_daily", "tumbling_hourly",
        "user_sessions", "props_map_entries", "salted_distinct_users",
        "native_session_stats", "fuzzy_name_matches",
        "event_type_ohlc", "purchase_attribution",
        "embedding_rrf_fusion", "session_transitions",
        "event_skew_profile", "label_centroid_report",
        "streaming_ohlc", "doc_passage_dedup", "doc_bigram_logprob",
        "streaming_funnel", "orc_interchange_report",
        "streaming_user_gapfill", "doc_duplicate_spans",
        "doc_perplexity_buckets", "doc_containment_dups",
        "embedding_kmeans_quality",
    ]
    ordered = front + [n for n in all_q if n not in front and n not in tail]
    ordered += [n for n in tail if n in all_q]
    return {n: all_q[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o.update(biometric.ORACLE)
    o.update(timeseries_ops.ORACLE)
    # streaming z-score twin shares the batch prior-window oracle
    # (kernel sorts by (us, event_id); single-batch source ⇒ the
    # absorption order equals the batch window's total order)
    o["streaming_anomalies"] = timeseries_ops.ORACLE["running_zscore_flags"]
    # streaming EWMA twin shares the batch recurrence oracle (same
    # single-batch total-order argument as the z-score twin)
    o["streaming_ewma"] = timeseries_ops.ORACLE["user_value_ewma"]
    # streaming cadence twin (registered round 11): single-batch
    # source ⇒ the moment accumulation order equals the batch
    # (us, event_id) total order and the shared cadence_finish dag
    # emits the batch profile relation verbatim
    o["streaming_user_cadence"] = events_ops.ORACLE["user_cadence_profile"]
    # ORC round-trip parity (ROUND-10 QUEUE, registered round 12 —
    # the round-11 prefix had zero spare slots): the oracle aggregates
    # the parquet table; hash match ⇒ the ORC interchange is lossless
    o["orc_interchange_report"] = analytics.ORC_INTERCHANGE_ORACLE
    # streaming funnel over a single-batch source emits the batch
    # funnel relation (cross-batch cadence golden-tested)
    o["streaming_funnel"] = events_ops.ORACLE["funnel_view_click_purchase"]
    # streaming last-touch / transition twins (ROUND-8 QUEUE): the
    # single-batch source makes the stateful absorption order equal
    # the batch (us, event_id) total order, so each shares its batch
    # twin's oracle verbatim
    o["streaming_attribution"] = events_ops.ORACLE["purchase_attribution"]
    o["streaming_transitions"] = events_ops.ORACLE["session_transitions"]
    # streaming SCD-2: closed runs emit on state change, open runs on
    # sentinel timer flush — the union equals the batch relation
    o["streaming_state_history"] = timeseries_ops.ORACLE["user_state_history"]
    # streaming gap-fill twin (ROUND-11 QUEUE, registered round 12):
    # closed hours + gap
    # runs emit on hour advance, the open hour on sentinel timer
    # flush — the union equals the batch hourly spine exactly
    # (hour-bucket sums are commutative, so no order caveat at all)
    o["streaming_user_gapfill"] = timeseries_ops.ORACLE["user_hourly_gapfill"]
    # streaming approx-distinct: bounded oracle (sketches differ per
    # engine) — the guarantee per (hourly window, type) as literal truth
    o["streaming_approx_users"] = """
        SELECT ((epoch_us(ts)//1000000) // 3600) * 3600 AS wstart,
               event_type, true AS est_ok
        FROM events GROUP BY 1, 2
    """
    # native dropDuplicatesWithinWatermark over the twice-staged
    # source collapses every duplicated event — the emission is the
    # plain batch events relation
    o["streaming_native_dedup"] = """
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    """
    # append mode + the watermark-flush sentinel (streaming/pipeline.py
    # _staged_events_dir_with_sentinel) closes every session, so the
    # streaming emission equals the batch throttled relation exactly
    o["streaming_alerts"] = biometric.ORACLE["alerts_throttled"]
    # streaming OHLC (ROUND-7 QUEUE): complete-mode snapshot over one
    # micro-batch == the batch candlestick relation; min_by/max_by
    # state merges like min/max so the fold-in is engine machinery
    o["streaming_ohlc"] = timeseries_ops.ORACLE["event_type_ohlc"]
    # update-mode emission log over a single-micro-batch source ==
    # the batch alert_windows relation (cadence is golden-tested)
    o["streaming_alert_windows_update"] = biometric.ORACLE["alert_windows"]
    # complete mode's final full-table snapshot over one micro-batch ==
    # the same batch relation (full-table cadence is golden-tested)
    o["streaming_alert_windows_complete"] = biometric.ORACLE["alert_windows"]
    # streaming exact-dedup registry over one micro-batch == the batch
    # dedup relation (incremental fold-in is golden-tested); the
    # update-mode foreachBatch-merge twin converges to the same
    # registry by construction
    o["streaming_dedup_canonicals"] = documents_ops.ORACLE["dedup_exact"]
    o["streaming_dedup_merge"] = documents_ops.ORACLE["dedup_exact"]
    # inner stream-stream time-range join emits eagerly per batch;
    # second-granularity event time (date_trunc pre-join) makes the
    # raw-timestamp BETWEEN predicate equal the batch floored-seconds
    # oracle exactly
    o["streaming_interval_pairs"] = events_ops.ORACLE["interval_join_pairs"]
    # native streaming session_window + sentinel flush closes every
    # session, so append mode emits the batch native_session_stats
    # relation (gaps-and-islands oracle)
    o["streaming_session_stats"] = events_ops.ORACLE["native_session_stats"]
    # complete-mode re-ranked snapshot over one micro-batch == the
    # batch tf top-k (tf-only: countDistinct df is unsupported on
    # streams; same (tf desc, word) total order as the batch twin).
    # Tokenizer fragment comes from corpus_ops._WS — the single
    # definition the Spark query (functions/text.words) mirrors — so
    # a tokenization change can't silently diverge this oracle.
    o["streaming_vocab_topk"] = f"""
        WITH tok AS (
          SELECT unnest({corpus_ops._WS}) AS word FROM documents
        )
        SELECT word, count(*)::BIGINT AS tf
        FROM tok GROUP BY word
        ORDER BY tf DESC, word LIMIT {corpus_ops.VOCAB_TOPK}
    """
    # timer-expired absence detection + sentinel flush == the batch
    # anti-join relation: every unresolved click expires once the
    # sentinel pushes the watermark past its horizon (exact-microsecond
    # comparisons on both engines)
    o["streaming_abandoned_clicks"] = events_ops.ORACLE["abandoned_clicks"]
    # full-outer stream-stream interval join + sentinel flush: matched
    # pairs emit eagerly, unmatched rows null-emit when both watermarks
    # pass their match window — the final relation equals the batch
    # full outer join on the same floored-seconds predicate
    o["streaming_outer_pairs"] = f"""
        WITH hr AS (
          SELECT user_id, epoch_us(ts)//1000000 AS hr_es,
                 round(value, 2) AS hr_value
          FROM events WHERE event_type = 'error' AND value > 100
        ), bp AS (
          SELECT user_id AS bp_user, epoch_us(ts)//1000000 AS bp_es,
                 round(value, 2) AS bp_value
          FROM events WHERE event_type = 'view' AND value < 100
        )
        SELECT hr.user_id, hr.hr_es, hr.hr_value,
               bp.bp_user, bp.bp_es, bp.bp_value
        FROM hr FULL OUTER JOIN bp ON hr.user_id = bp.bp_user
         AND abs(hr.hr_es - bp.bp_es) <= {events_ops.INTERVAL_TOL_S}
    """
    # stream-static enrichment in complete mode over one micro-batch ==
    # the batch join+agg relation
    o["streaming_enriched_segment_counts"] = """
        SELECT c.c_mktsegment AS segment, e.event_type,
               count(*) AS n_events,
               CAST(sum(CAST(e.value AS DECIMAL(28,10))) AS DOUBLE)
                 AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """
    o.update(events_ops.ORACLE)
    o.update(analytics.ORACLE)
    o.update(documents_ops.ORACLE)
    o.update(corpus_ops.ORACLE)
    return o
