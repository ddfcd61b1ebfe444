"""Regenerate PLANS.md: annotated physical plans for the headline
queries — the `.explain("formatted")` discipline made reviewable.

Each section states what the plan MUST exhibit (pushdown, pruning,
broadcast, no cartesian, ...) above the actual formatted plan; the
same invariants are CI-asserted in tests/test_plan_hygiene.py, so the
document cannot silently drift from the enforced reality.

Usage: python tools/dump_plans.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

#: (query name, what the reader should verify in the plan)
SHOWCASE = [
    ("q1_pricing_summary",
     "Scan-heavy aggregation: the date filter reaches the parquet scan "
     "(`PushedFilters`), `ReadSchema` carries only the referenced "
     "lineitem columns, and the grouped aggregation is two-phase "
     "(partial `HashAggregate` before the exchange, final after)."),
    ("alert_windows",
     "The flagship's filter stage: the composite OR-of-ANDs alert "
     "predicate is pushed into the events scan; window assignment is "
     "an explode + two-phase aggregation — per-(window,user) state is "
     "two boolean flags, never an event list."),
    ("regional_revenue_rollup",
     "Star join + ROLLUP: every dimension join is a "
     "`BroadcastHashJoin` (no `SortMergeJoin` anywhere); the fact "
     "table shuffles once, for the rollup aggregation. The customer "
     "join carries NO hint since round 11 (it grows with SF) — the "
     "broadcast shown is the OPTIMIZER's stats-based choice, which "
     "becomes a shuffle join at 100 TB, as it must."),
    ("top_customers_per_segment",
     "Join + window rank: broadcast join (optimizer-sized since "
     "round 11 — no hint on the SF-growing customer side) into a "
     "single shuffle on the window partition key; rank filter "
     "applied before projection."),
    ("top_orders",
     "Global sort + limit compiles to `TakeOrderedAndProject` — no "
     "full sort of the orders table."),
    ("minhash_lsh_pairs",
     "LSH candidate generation: one aggregation computes signatures "
     "(map-side partial min — the shuffle carries 8 short strings per "
     "doc), band explosion, and the triangle-partitioned in-cell pair "
     "expansion. No self-join of the signature subtree, no cartesian."),
    ("embedding_similar_pairs_bucketed",
     "Scale-true near-dup: the pair join is an EQUI-join on the IVF "
     "cell (`_blk`); the only nested-loop is the deliberate broadcast "
     "of 8 centroids during cell assignment."),
    ("contamination_overlaps",
     "Winnow-sketch contamination check: fingerprint document-"
     "frequency cut (aggregation) precedes the fp equi-join; no "
     "cartesian; overlap counting is a keyed aggregation."),
    ("funnel_view_click_purchase",
     "Sequential-pattern funnel: three keyed equi-joins chain the "
     "conditional minima; every join is on user_id (broadcast at this "
     "SF, co-partitioned at scale) — no cross product, no window "
     "blowup."),
    ("asof_latest_reading",
     "As-of join composed from built-ins: tag + union + "
     "`last(..., ignorenulls)` over one (key, time) window — a single "
     "shuffle, no per-key Python."),
    ("user_sessions",
     "Gaps-and-islands sessionization: one shuffle on user_id feeds "
     "both window functions and the final aggregation (sort reused)."),
    ("doc_split_assignment",
     "Deterministic corpus split: ZERO exchanges — a narrow md5 "
     "projection whose scan reads only doc_id (`ReadSchema`); the "
     "100 TB split is one map pass."),
    ("doc_stratified_sample",
     "Deterministic per-stratum sample: exactly ONE exchange, on the "
     "stratum key; the sort ranks (id, hash) pairs only — document "
     "payloads never ride through the shuffle."),
    ("corpus_vocab_topk",
     "Vocabulary induction: partial `HashAggregate` collapses each "
     "split to its distinct-word counts BEFORE the exchange (stopword "
     "skew absorbed map-side); the top-k is `TakeOrderedAndProject`, "
     "never a global sort."),
    ("doc_passages",
     "Passage chunking: ZERO exchanges — scan → slice-per-chunk "
     "generate, pruned to (doc_id, text); at 100 TB the chunker "
     "parallelizes with the input splits."),
    ("corpus_token_budget",
     "Token-budget selection: the corpus-wide running total is the "
     "two-phase prefix sum — `RangePartitioning` on the quality "
     "order, per-partition windows keyed by partition id, broadcast "
     "offsets; the only unpartitioned window runs over the "
     "partition-count-sized totals relation, never the corpus."),
    # --- round-5 queue (registered in round 6; plans already CI-pinned)
    ("running_zscore_flags",
     "Prior-window anomaly scoring: a SINGLE user_id exchange feeds "
     "the count/sum/sumsq window frames; the z expression is pure "
     "codegen over exact BIGINT window sums — no Python, no second "
     "shuffle, no single-partition window."),
    ("term_posting_lists",
     "Inverted-index build: shuffle 1 is the (word, doc_id) distinct "
     "with map-side partial dedup (the stopword volume guard); "
     "shuffle 2 moves only the globally-distinct pairs to the term "
     "key, where the row_number preview cap and the final aggregation "
     "share the partitioning."),
    ("dup_graph_stats",
     "Degree-ordered triangle counting: degree join, wedge build and "
     "closing-edge check are all KEYED joins (hash/sort-merge) — no "
     "cartesian; the only nested-loops are the 1-row scalar summary "
     "combines."),
    ("orders_profile",
     "Column profiler: the returned frame is a `LocalTableScan` — the "
     "two internal single-row aggregation jobs (hash-aggregated "
     "multi-countDistinct `Expand`; global min/max/null fold) run "
     "concurrently and merge driver-side (see "
     "`plans/analytics._profile_agg_frames`, plan-pinned in "
     "`tests/test_plan_hygiene.py`); no per-column re-scan, no "
     "parallelize job."),
    # --- round 7: kernel rework + the round-8 queue
    ("user_value_ewma",
     "Sequential recurrence, partition-batched (round-7 rework): ONE "
     "hash exchange on user_id, an in-partition (user, us, event_id) "
     "sort, then a single `MapInPandas` — never the per-group "
     "`FlatMapGroupsInPandas` whose per-user Arrow slicing cost 5x "
     "(3.1 s vs 0.6 s at sf0.1)."),
    ("fuzzy_name_matches",
     "Blocked record linkage: candidate generation is an EQUI-join "
     "on the nationkey block (broadcast at this dim size); the "
     "length band and the thresholded `levenshtein(l, r, 1)` ride as "
     "join filters — no cartesian, no all-pairs comparison."),
    ("event_type_ohlc",
     "OHLC downsample: ONE two-phase hash aggregation — `min_by`/"
     "`max_by` fold with map-side partial combine like min/max, so "
     "no per-bar row list ever materializes."),
    ("doc_perplexity_buckets",
     "Perplexity deciles WITHOUT a global sort: the doc-score "
     "relation collapses to distinct scores first, the rank offset "
     "is the two-phase range-partitioned prefix sum "
     "(`RangePartitioning` exchange, per-`_pid` windows, the only "
     "unpartitioned window over the partition-count `_pt` totals — "
     "the token-budget shape), the total rides as a 1-row broadcast, "
     "the upstream scorer (round-10 decomposition) takes corpus word "
     "counts from a window over `word` instead of a vocabulary "
     "broadcast, "
     "and bucket assignment + rollup are pure integer expressions — "
     "no ntile over the corpus, no single-partition window over "
     "documents or distinct scores."),
    ("label_centroid_report",
     "Per-class centroids: posexplode → ONE (label, dim) two-phase "
     "hash aggregation (partial combine map-side); output is "
     "|labels|x64 rows at any corpus size — no per-label vector "
     "collection."),
    ("doc_passage_dedup",
     "Sub-document dedup: the chunker stays narrow (generate in the "
     "scan stage), the only exchange carries (doc_id, idx, hash) "
     "triples — never passage text — for the first-occurrence "
     "window, then the per-doc rollup reuses nothing corpus-wide."),
    ("embedding_rrf_fusion",
     "Hybrid retrieval: ONE broadcast pair join computes the dot "
     "product once; cosine and d2 derive row-locally, and the two "
     "metric rank windows plus the fused re-rank share a single "
     "query_id exchange — no second corpus pass, no union/groupBy."),
    ("purchase_attribution",
     "Last-touch attribution: the full-data shuffle is the SINGLE "
     "user_id exchange feeding the two IGNORE-NULLS last() reads "
     "over one 1-PRECEDING frame; the second exchange carries only "
     "the per-conversion rows into the channel rollup — no "
     "self-join, no per-conversion range scan."),
    ("session_transitions",
     "Journey-step mining: one lag() over the per-user (us, "
     "event_id) order rides the same single user_id exchange; the "
     "count aggregation and the denominator window run over the "
     "|types|²-bounded transition relation, so the two later "
     "exchanges are constant-size at any corpus scale."),
    ("event_skew_profile",
     "The skew diagnostic practices what it preaches: only the "
     "(type, user) count relation shuffles full data; the exact "
     "lower-rank percentile window and the final rollup run over "
     "the already-reduced per-user counts keyed by event_type."),
    # --- round-9 queue ---
    ("doc_duplicate_spans",
     "ExactSubstr dedup, relationally (round-11 window rework): the "
     "positional gram index is built in ONE tokenize pass and "
     "shuffles ONCE on its 16-byte hash — the duplicated flag is a "
     "min/max-doc window on that exchange (min!=max <=> >=2 distinct "
     "docs), no key aggregate, no flag-back join, no checkpoint "
     "materialization; gram text never rides an exchange; one doc_id "
     "exchange then feeds all three windows and both rollups via "
     "subset-clustering reuse."),
    ("embedding_int8_recall",
     "Dual integer rankings over ONE pair scan: vectors quantize "
     "once per row before the broadcast join, both row_number "
     "windows share a single (query_id) exchange, and the recall is "
     "a conditional sum — no set intersection, no Python, no ulp "
     "surface anywhere."),
    ("source_unigram_kl",
     "Round-10 decomposed form (ln(stf/ctf) + ln(n/ns)): exactly one "
     "(source, word) exchange; the per-row term needs only the ctf "
     "window over `word` (no vocabulary broadcast — a large corpus "
     "could never ship one); the sole join is the narrow (doc_id, "
     "source) projection; the one SinglePartition window runs over "
     "the already-aggregated |sources|-row relation."),
    ("user_cadence_profile",
     "Temporal bot detection in one user_id exchange: the lag() "
     "window and the moment aggregate share it via subset-clustering "
     "reuse; exact integer moments feed a fixed IEEE double dag, no "
     "Python anywhere."),
    ("orc_interchange_report",
     "ORC round-trip parity (round-10 queue): the read-back side is "
     "a partition-local two-phase aggregate over the hive-partitioned "
     "ORC scan; the partition column arrives from directory "
     "metadata, not data pages."),
    ("doc_containment_dups",
     "Asymmetric containment dedup (round-14 queue, registered round "
     "15): the banded-LSH candidate pairs equi-join back to the "
     "corpus twice on doc id, the intersection count runs in codegen "
     "(`array_intersect`-family expressions, no UDF), and NO "
     "cartesian appears anywhere — the bucketed candidate generation "
     "bounds the pair fan-out exactly as in the Jaccard verify."),
    ("orders_constraint_report",
     "Declarative validation report (round-15 single-scan merge): "
     "exactly TWO scans of orders — one merged scan-aggregation "
     "carrying every row-predicate rule AND the unique rule (the "
     "single-distinct rewrite groups by the key, row-rule partials "
     "ride the same exchange), plus the FK anti-join probe side. The "
     "anti-join broadcasts from STATS (no hint since round 13) and "
     "flips to a shuffled join at scale."),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from biometric_stream_processing_spark.session import get_spark

    spark = get_spark("dump-plans")
    qs = entrymod.queries()

    out = [
        "# PLANS — annotated physical plans for the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` "
        "(re-run after plan-affecting changes; the stated invariants "
        "are CI-asserted in `tests/test_plan_hygiene.py`).",
        "",
    ]
    for name, blurb in SHOWCASE:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().rstrip()
        out += [f"## {name}", "", blurb, "", "```", plan, "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} queries)")


if __name__ == "__main__":
    main()
