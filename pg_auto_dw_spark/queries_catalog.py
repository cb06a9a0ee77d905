"""Operator catalog: every implemented SURVEY.md section-2 operator as a
(Spark DataFrame builder, DuckDB oracle SQL) pair.

Registration keeps both sides adjacent so column aliases never drift.
Queries marked ``sql=None`` are non-SQL-expressible (driver records a
rows-only check).
"""

from __future__ import annotations

import datetime
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build.spec import business_key_from_spec
from .sources import load_table

LOAD_TS = datetime.datetime(2024, 6, 1)
LOAD_TS_STR = "2024-06-01 00:00:00"

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLE[name] = sql
        return fn

    return deco


# The driver verifies queries in dict order and may cap how many it
# runs (r2-r5 each ran 50; later registrations got no CORRECTNESS row).
# Rotation policy: no query goes two rounds unverified; with a 50-slot
# cap and <=100 ROTATION rows (mid-order registrations join the cycle
# at their first driver round) the rotation is a strict two-round
# cycle -- _PRIORITY is exactly the set that RESTED last round (plus
# any query added or reshaped this round), _DEPRIORITIZED is the set
# verified last round. These invariants are now EXECUTABLE:
# tests/test_catalog_invariants.py fails the build on any arithmetic
# slip (r11 lesson -- see the CORRECTION below).
# Round 11 state (executed per the r10 VERDICT directive 2 / the r10
# catalog note, with ONE arithmetic correction): _PRIORITY = the 50
# rows that rested in r10 MINUS five retirements drawn from that
# resting set PLUS the 5 r10 mid-order registrations taking their
# first driver rows (quality_binned_sample, tokenizer_stats,
# inference_batch_plan_stats, corpus_datacard,
# documents_winnow_fingerprints). Exactly 50. _DEPRIORITIZED = the 50
# rows verified in r10 (CORRECTNESS_r10: 50/50 green) minus the
# retired documents_pii_scan = 49. Catalog: 99 oracle-rotation rows =
# 50 + 49, strict two-round cycle, no query more than one round
# stale, plus the 4 MID-order r12-candidate registrations below
# (first driver rows due r12).
# CORRECTION vs the r10 note: it designated documents_pii_scan as one
# of five RESTING retirements, but pii_scan actually RAN (green) in
# r10 -- it sat in r10's _PRIORITY, not its resting set. Retiring it
# therefore frees an r12 slot, not an r11 one, and only FOUR
# designated retirements came out of the resting 50; a sixth
# retirement (documents_keyword_tfidf, from the resting set) restores
# the exactly-50 arithmetic. All six rationales:
# Retired r10 (the five the r9 note designated; all were RESTING in
# r9, so nothing loses an in-window row; coverage held elsewhere;
# builders stay benched via _RETIRED/bench_queries):
#   text_token_counts      (proxy-count math embedded in the verified
#                           corpus_token_budget_sample and
#                           documents_pack_sequences plans; exact
#                           counts have their own driver row via
#                           documents_bpe_token_counts)
#   text_fingerprints      (sha256 key held by dedup_exact_documents +
#                           auto_dw_hash_parity; md5-prefix integer
#                           math held by documents_shard_plan and the
#                           minhash/simhash oracles)
#   ann_cosine_topk        (the brute-force kernel is the verified
#                           ground truth inside ann_pq_recall_bounds
#                           and the recall harness; the filtered twin
#                           ann_cosine_topk_filtered keeps the row
#                           shape under driver verification)
#   multimodal_frame_samples (Arrow mapInPandas plumbing + fake-codec
#                           contract held by multimodal_decode_stats +
#                           test_multimodal_codec.py -- the holder
#                           argument that retired multimodal_resize)
#   customer_order_coalesce_outer (J1/P5 held by
#                           orders_without_lineitems_anti + the status
#                           engine rows; coalesce projection appears
#                           in every loader oracle)
# MID-order r10 registrations (the first four are the r9 VERDICT
# directive-6 designations, the fifth is an r10 session op; each
# locally verified via tools/check_oracle.py at sf0.01 AND sf0.001 +
# a clean hard-error dtype_audit before registration; taking their
# first driver rows in r11 at the head of _PRIORITY):
#   corpus_datacard          (integer/sha2-distinct surface only; the
#                            two percentile_approx fields excluded)
#   tokenizer_stats          (pinned literal merges, exact integer
#                            fixed-point ratios)
#   inference_batch_plan_stats (md5 order + integer band/batch math)
#   quality_binned_sample    (multiplicative-hash rank, cross-engine
#                            exact like the sampler family)
#   documents_winnow_fingerprints (md5-prefix hashes + the 2^20
#                            min-key packing + window MIN -- fully
#                            integer; hypothesis-pinned vs a Python
#                            reference winnower)
# Retired r11 (executed per the r10 note; rationales):
#   hub_load_customer      (S7/J5/A4 anti-join+hash load shape held by
#                           hub_load_lineitem_composite -- same loader
#                           code path with composite keys on top)
#   sat_load_customer      (satellite hashdiff/anti-join shape held by
#                           sat_load_lineitem_composite; both stay on
#                           the bench watch list regardless)
#   lineitem_stats_by_flag (multi-key GROUP BY agg family A6 held by
#                           q1_pricing_summary on the same table and
#                           keys)
#   events_asof_last_purchase (union+carry-forward as-of kernel is
#                           verbatim inside the verified pit_user_daily
#                           composition; range family stays via
#                           events_range_click_attribution)
#   documents_pii_scan     (the conditional-agg profile shape is held
#                           by source_profile_customer + the datacard
#                           row; the regex bank itself stays driver-
#                           verified through documents_pii_redaction,
#                           which applies the SAME patterns. Was green
#                           in r10, NOT resting -- see the CORRECTION
#                           above)
#   documents_keyword_tfidf (the sixth, restoring the exactly-50
#                           arithmetic: its smoothed-idf kernel --
#                           log((N+1)/(df+1)) over the exploded token
#                           frame -- is driver-verified through
#                           documents_hashed_embedding (green r10,
#                           same idf math feeding the hashed dims);
#                           the explode-tokenize shape is held by
#                           part_name_tokens_explode and
#                           documents_bpe_token_counts, and the
#                           per-key top-n window by
#                           top_orders_per_customer (all green r10))
# MID-order r11 registrations at positions 51-54, outside the driver
# cap (the r10 VERDICT directive-4 designations; each locally
# verified via tools/check_oracle.py at sf0.01 AND sf0.001 + a clean
# hard-error dtype_audit before registration; first driver rows due
# r12): sft_render_chat_spans (pure string/integer -- render + the
# running-offset replay + trainable_char_stats composition),
# eval_scores_report (integer EM/common/token counts, fixed-point
# f1), corpus_datacard_drift (integer deltas + boolean flag over the
# corpus_datacard surface), doremi_domain_weights (scaled-BIGINT
# emit; see its docstring for the cross-engine boundary argument).
# Round 12 state (EXECUTED per the r11 note and the r11 VERDICT
# directive 1): _PRIORITY = the 49 rows that rested in r11 MINUS the
# three designated retirements below PLUS the 4 r11 mid-order
# registrations taking their first driver rows (sft_render_chat_spans,
# eval_scores_report, corpus_datacard_drift, doremi_domain_weights).
# Exactly 50. _DEPRIORITIZED = the 50 rows verified in r11
# (CORRECTNESS_r11: 50/50 green). Invariants re-checked via
# tests/test_catalog_invariants.py before commit.
# MID-order r12 registrations (r11 VERDICT directives 2-3; each
# check_oracle-green at sf0.001 AND sf0.01 AND sf0.1 + clean
# hard-error dtype_audit before registration; first driver rows due
# r13, matched 1:1 by _NEXT_RETIREMENT_CANDIDATES below):
#   documents_ndv_ledger     (HLL split/merge/estimate under the
#                            bounds-check contract -- the
#                            events_value_quantile_sketch precedent)
#   classifier_train_contract (training-population/feature-space
#                            integers + convergence booleans; EXACT
#                            WEIGHT PARITY deliberately excluded --
#                            the gradient is an unordered double sum
#                            through a nonlinear iteration, the
#                            order-dependent-float class the r11
#                            cross-SF sweep eliminated; exact values
#                            stay pinned at 1e-9 in pytest)
#   semantic_decontaminate_flags (every-cell-probed = exact
#                            brute-force flag set; quantized-int64
#                            cosine, the ANN family contract)
#   preference_pairs_orders  (all_pairs + cap replay; parquet doubles
#                            are bit-identical both engines so gaps
#                            and the cap's total order are exact)
#   winnow_near_dup_pairs_docs (fingerprint replay + capped bucket
#                            join + exact 5-shingle Jaccard)
#   image_near_dup_pairs_docs (perceptual dHash over the stub codec +
#                            the shared capped pigeonhole join --
#                            hex-slice byte replay, all integers)
# Retired r12 (the three the r11 note designated as candidates; final
# call CONFIRMED -- all three were RESTING in r11, so nothing loses an
# in-window row; coverage held elsewhere; builders stay benched):
#   ann_ivf_topk           (single-probe is the n_probes=1 special
#                           case of the verified
#                           ann_ivf_multiprobe_topk kernel -- same
#                           codebook broadcast, same cell shuffle;
#                           the persisted-index twin
#                           ann_ivf_index_search keeps the frozen-
#                           geometry path under driver verification)
#   text_unigram_logprob   (same add-k-smoothed explode->count->log10
#                           LM kernel as the verified
#                           text_bigram_logprob, which embeds the
#                           unigram frame as its conditioning
#                           denominator; word-grain token math also
#                           held by text_word_entropy)
#   dedup_clusters         (the connected-components surface rides the
#                           verified dedup_keep_best_documents row,
#                           which drives the SAME per-session cluster
#                           assignment through its keep-rule; the
#                           candidate side stays via
#                           dedup_minhash_lsh_pairs)
# r13 oracle CANDIDATE (new r11 session op, pytest-verified):
# winnow_near_dup_pairs -- fully SQL-expressible (the fingerprint
# oracle exists; the overlap-count bucket join and the exact shingle
# Jaccard both have DuckDB replays in dedup_ngram_jaccard /
# documents_winnow_fingerprints); needs its own retire-and-replace
# designation when registered.
# Retired r9 (all were RESTING in r8; coverage held elsewhere;
# events_interarrival_stats' LAG(ts) math is held by events_sessionize
# + the A1/A6 shapes of events_hourly_rollup/events_salted_type_stats):
#   customer_balance_ranks   (idiomatic window family held by
#                             status_window_flags -- the SURVEY W1/W2
#                             row -- plus sat_current_view)
#   events_range_same_user_attribution (binned range-join family held
#                             by events_range_click_attribution; the
#                             stream-stream twin stays pytest-covered;
#                             row stays in bench HEADLINE as a canary
#                             via _RETIRED/bench_queries -- bench and
#                             correctness-slot membership independent)
#   documents_sample_fixed_n (per-stratum exact-count math embedded in
#                             documents_mixture_sample's verified
#                             plan; stratified_sample row stays)
#   dedup_ngram_containment  (verifier-after-candidates n-gram overlap
#                             family held by dedup_ngram_jaccard +
#                             corpus_contamination_pairs)
#   events_distinct_users_by_type (exact distinct held by
#                             events_salted_type_stats' skew-safe
#                             distinct twin + events_heavy_hitter_users)
#   multimodal_resize        (Arrow mapInPandas plumbing + deterministic
#                             fake-codec contract held by
#                             multimodal_features -- same kernel shape,
#                             same decode seam -- plus the codec
#                             contract tests in test_multimodal_codec.py)
# Retired builders stay importable and benchable (_RETIRED +
# bench_queries()) but are excluded from queries()/oracle_sql().
# Pre-registration gate (r8 VERDICT directive 2): a clean
# `python tools/dtype_audit.py` hard-error run (0 ERRORs; int128/
# decimal128 and type-class mismatches are hard errors) is MANDATORY
# before any oracle enters this file.
# Resting set snapshot:
# python -c "from pg_auto_dw_spark import queries_catalog as q; \
#            print(list(q.queries())[50:])"
_RETIRED = {
    # r9 retirements
    "customer_balance_ranks",
    "events_range_same_user_attribution",
    "documents_sample_fixed_n",
    "dedup_ngram_containment",
    "events_distinct_users_by_type",
    "multimodal_resize",
    "events_interarrival_stats",
    # r10 retirements (the five the r9 note designated; rationales in
    # the note above)
    "text_token_counts",
    "text_fingerprints",
    "ann_cosine_topk",
    "multimodal_frame_samples",
    "customer_order_coalesce_outer",
    # r11 retirements (the r10 note's five, plus documents_keyword_tfidf
    # -- see the rotation note above for the arithmetic correction and
    # all six rationales)
    "hub_load_customer",
    "sat_load_customer",
    "lineitem_stats_by_flag",
    "events_asof_last_purchase",
    "documents_pii_scan",
    "documents_keyword_tfidf",
    # r12 retirements (the three the r11 note designated; rationales
    # in the rotation note above)
    "ann_ivf_topk",
    "text_unigram_logprob",
    "dedup_clusters",
    # r13 retirements (the six the r12 note designated; rationales in
    # the rotation note above)
    "quality_binned_sample",
    "documents_span_scrub",
    "events_value_winsorized_stats",
    "events_click_purchase_funnel",
    "sat_current_view",
    "q13_order_count_distribution",
    # r14 retirements (the three the r13 note designated, final call
    # confirmed; rationales in the r13 candidates note below:
    # multimodal_decode_stats's stub-codec seam stays exercised by
    # multimodal_features + the three media rows; events_hourly_rollup
    # is an exact subset of events_rollup_hierarchy's leaf level;
    # dedup_simhash_hamming's pigeonhole generator is the shared
    # dedup.hamming_chunk_pairs, driver-verified through the image /
    # audio / video rows)
    "multimodal_decode_stats",
    "events_hourly_rollup",
    "dedup_simhash_hamming",
    # r15 retirements (the two the r14 note designated, final call
    # confirmed; rationales in the r15 candidates note below:
    # corpus_datacard's aggregate surface is an exact subset of
    # corpus_datacard_drift, which computes a datacard per snapshot
    # before diffing; events_salted_type_stats' salting family stays
    # driver-covered via events_customer_salted_join -- the salted
    # JOIN, the harder shape -- plus events_heavy_hitter_users)
    "corpus_datacard",
    "events_salted_type_stats",
    # r16 retirements (the five the r15 note designated -- matching
    # the five r15 mid-order registrations so the exactly-50
    # arithmetic closes -- final call confirmed; coverage rationales
    # in the r15 candidates note below: corpus_contamination_pairs is
    # replayed inside corpus_decontaminate (in this round's
    # _PRIORITY); ann_lsh_bucket_topk's band-join kernel stays via
    # dedup_minhash_lsh_pairs (also _PRIORITY); the INSERT..SELECT
    # anti-join sink keeps hub_load_lineitem_composite +
    # link_load_order_part_supplier on the same composite grain;
    # documents_pack_sequences' placement CTE is replayed whole by
    # documents_packed_token_stream; corpus_token_budget_sample's
    # bucket-greedy prefix is replayed whole by
    # documents_multimodal_budget_sample)
    "corpus_contamination_pairs",
    "ann_lsh_bucket_topk",
    "sat_load_lineitem_composite",
    "documents_pack_sequences",
    "corpus_token_budget_sample",
}
# Round 16 state (EXECUTED per the r15 note and the r15 VERDICT
# directive 8): _PRIORITY = the 50 rows that rested in r15 MINUS the
# five designated retirements (all five confirmed RESTING in r15,
# coverage rationales above) PLUS the five r15 mid-order
# registrations taking their first driver rows. Exactly 50.
# _DEPRIORITIZED = the 50 rows verified in r15 (CORRECTNESS_r15:
# 50/50 green). Invariants re-checked via
# tests/test_catalog_invariants.py before commit.
_PRIORITY = [
    # r15 mid-order registrations: first driver rows (r15 VERDICT #8)
    "documents_pack_multimodal",
    "media_datacard_drift_docs",
    "media_decode_rules_docs",
    "documents_packed_token_stream",
    "documents_multimodal_budget_sample",
    # the 45 rows that rested in r15 (50 minus the five designated
    # retirements executed this round -- see the r16 rotation note)
    "media_hash_rows_docs",
    "audio_near_dup_pairs_docs",
    "video_near_dup_pairs_docs",
    "sft_render_chat_spans",
    "eval_scores_report",
    "corpus_datacard_drift",
    "doremi_domain_weights",
    "documents_bpe_token_counts",
    "documents_shard_plan",
    "warehouse_snapshot_diff",
    "events_correlation_matrix",
    "documents_hashed_embedding",
    "documents_source_overlap",
    "text_bigram_logprob",
    "documents_duplicated_spans",
    "ann_pq_recall_bounds",
    "documents_jsonl_roundtrip",
    "scd2_merge_state",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top_orders_per_customer",
    "events_rollup_hierarchy",
    "events_sessionize",
    "part_name_tokens_explode",
    "orders_without_lineitems_anti",
    "text_language_id",
    "text_quality_scores",
    "dedup_exact_documents",
    "dedup_minhash_lsh_pairs",
    "corpus_clean_docs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "pending_tables_cutoff",
    "source_table_prompt_payload",
    "auto_dw_hash_parity",
    "hub_load_lineitem_composite",
    "link_load_order_part_supplier",
    "scd2_partitioned_merge",
    "corpus_decontaminate",
    "source_profile_customer",
    "text_repetition",
    "ann_ivf_multiprobe_topk",
    "documents_zip_format_violations",
    "dedup_keep_best_documents",
]
_DEPRIORITIZED = [
    # the 50 rows verified in r15 (CORRECTNESS_r15: 50/50 green --
    # this was r15's _PRIORITY, resting this round per the two-round
    # rotation)
    # r14 mid-order registrations: first driver rows (r14 VERDICT #1)
    "media_text_pairs_docs",
    "media_datacard_docs",
    # the 48 rows that rested in r14 (50 minus the two designated
    # retirements executed in r15 -- see the r15 rotation note)
    "documents_ndv_ledger",
    "classifier_train_contract",
    "semantic_decontaminate_flags",
    "preference_pairs_orders",
    "winnow_near_dup_pairs_docs",
    "image_near_dup_pairs_docs",
    "tokenizer_stats",
    "inference_batch_plan_stats",
    "documents_winnow_fingerprints",
    "text_word_entropy",
    "documents_dsir_weights",
    "documents_quality_linear",
    "dedup_semantic_keep",
    "documents_gopher_rules",
    "documents_bloom_decontaminate",
    "events_value_histogram",
    "orders_constraint_audit",
    "events_value_quantile_sketch",
    "ann_ivf_index_search",
    "dim_upsert_customer",
    "gdpr_delete_customer",
    "q4_late_shipment_priority",
    "q18_large_volume_orders",
    "q22_inactive_rich_customers",
    "orders_rolling_revenue",
    "schema_evolution_customer",
    "time_travel_versions",
    "documents_pii_redaction",
    "documents_leakfree_split",
    "documents_boilerplate_removal",
    "pit_user_daily",
    "events_range_click_attribution",
    "documents_stratified_sample",
    "documents_mixture_sample",
    "events_heavy_hitter_users",
    "events_customer_salted_join",
    "part_fuzzy_name_pairs",
    "events_type_pivot",
    "ann_cosine_topk_filtered",
    "documents_chunked_windows",
    "status_window_flags",
    "latest_transformer_responses",
    "events_props_json_extract",
    "multimodal_features",
    "dv_round_trip_customer",
    "ghost_records_customer",
    "status_source_column",
    "tracking_union_except",
]
# Designated retirement CANDIDATES for the NEXT rotation (final call
# at r13; every mid-order registration must be matched by one so the
# exactly-50 arithmetic closes -- test_catalog_invariants.py enforces
# len(mid) <= len(this list) and membership in the resting set). All
# five are in today's resting set (_DEPRIORITIZED); coverage held
# elsewhere:
#   quality_binned_sample    (multiplicative-hash rank sampler family
#                            held by documents_stratified_sample +
#                            documents_mixture_sample -- same rank
#                            kernel, exact per-stratum rates; the
#                            quality-bin input shape rides the
#                            verified documents_quality_linear score)
#   documents_span_scrub     (the gram-instance frame + duplicated-
#                            span flags are documents_duplicated_spans
#                            verbatim -- scrub is its filter
#                            composition; that row stays in rotation)
#   events_value_winsorized_stats (single-pass value-scan clamp aggs
#                            held by events_value_histogram -- same
#                            fixed-bin scan shape -- plus the
#                            quantile-bound contract row
#                            events_value_quantile_sketch)
#   events_click_purchase_funnel (conditional-agg pivot on the same
#                            table and keys held by events_type_pivot;
#                            the event-ordering family stays via
#                            events_sessionize)
#   sat_current_view         (per-key latest-window shape held by
#                            latest_transformer_responses +
#                            status_window_flags -- the W1/W2 rows;
#                            the satellite surface itself stays
#                            driver-verified via
#                            dv_round_trip_customer and
#                            sat_load_lineitem_composite)
# (The r12 session op image_near_dup_pairs was REGISTERED same-round
# as image_near_dup_pairs_docs once its hex-slice byte replay proved
# exact -- see the registration at the end of this file -- so it takes
# the sixth candidate slot below instead of an r13 candidacy note.)
#   q13_order_count_distribution (sixth candidate, matching the sixth
#                            mid-order registration: the LEFT-join
#                            count-distribution shape is held by
#                            q18_large_volume_orders +
#                            q22_inactive_rich_customers (join-back /
#                            anti family) and J1 stays driver-covered
#                            via the status rows)
# Round 13 state (EXECUTED per the r12 note and the r12 VERDICT
# directive 1): _PRIORITY = the 50 rows that rested in r12 MINUS the
# six designated retirements (quality_binned_sample,
# documents_span_scrub, events_value_winsorized_stats,
# events_click_purchase_funnel, sat_current_view,
# q13_order_count_distribution -- all six confirmed RESTING in r12,
# coverage rationales in the r12 note above) PLUS the six r12
# mid-order registrations taking their first driver rows
# (documents_ndv_ledger, classifier_train_contract,
# semantic_decontaminate_flags, preference_pairs_orders,
# winnow_near_dup_pairs_docs, image_near_dup_pairs_docs). Exactly 50.
# _DEPRIORITIZED = the 50 rows verified in r12 (CORRECTNESS_r12:
# 50/50 green). Invariants re-checked via
# tests/test_catalog_invariants.py before commit.
# Designated retirement CANDIDATES for the NEXT rotation (final call
# at r14; every r13 mid-order registration must be matched by one so
# the exactly-50 arithmetic closes). All three are in today's resting
# set (_DEPRIORITIZED); coverage held elsewhere:
#   multimodal_decode_stats  (Arrow decode-stats kernel rides the
#                            same stub-codec seam as
#                            multimodal_features -- in this round's
#                            _PRIORITY -- and the seam is exercised
#                            end-to-end by image_near_dup_pairs_docs,
#                            also in _PRIORITY; the codec contract
#                            stays pinned in
#                            tests/test_multimodal_codec.py)
#   events_hourly_rollup     (exact subset of events_rollup_hierarchy
#                            -- the hierarchy row computes the hourly
#                            grain as its leaf level before rolling
#                            up -- and the time-bucket agg family
#                            also stays via events_sessionize; both
#                            driver-green in r12, resting this round)
#   dedup_simhash_hamming    (the pigeonhole candidate join is the
#                            shared dedup.hamming_chunk_pairs
#                            generator, driver-verified through
#                            image_near_dup_pairs_docs -- the r12
#                            refactor proved the two rides
#                            hash-identical -- and the text near-dup
#                            family stays via
#                            winnow_near_dup_pairs_docs +
#                            dedup_minhash_lsh_pairs)
# Designated retirement CANDIDATES for the NEXT rotation (final call
# at r15; every r14 mid-order registration must be matched by one so
# the exactly-50 arithmetic closes). Both are in today's resting set
# (_DEPRIORITIZED = the r13-green 50); coverage held elsewhere:
#   corpus_datacard          (the datacard aggregate surface is an
#                            exact subset of corpus_datacard_drift --
#                            the drift row computes a datacard per
#                            snapshot before diffing, the
#                            events_hourly_rollup-precedent shape --
#                            and drift sits in this round's _PRIORITY)
#   events_salted_type_stats (the salting family stays driver-covered
#                            via events_customer_salted_join -- the
#                            salted JOIN, the harder shape -- and
#                            events_heavy_hitter_users, the skew
#                            detection row; all three rode the same
#                            skew.py kernels since r10)
# Designated retirement CANDIDATES for the NEXT rotation (final call
# at r16; every r15 mid-order registration must be matched by one so
# the exactly-50 arithmetic closes). All are in today's resting set
# (_DEPRIORITIZED = the r14-green 50); coverage held elsewhere:
#   corpus_contamination_pairs (the gram-instance contamination join
#                            is replayed end-to-end inside
#                            corpus_decontaminate -- the harder
#                            composition, in today's resting set and
#                            due back at r16 -- and the
#                            decontamination family stays driver-live
#                            via semantic_decontaminate_flags and
#                            documents_bloom_decontaminate, both in
#                            this round's _PRIORITY)
#   ann_lsh_bucket_topk      (the ANN surface keeps four driver rows:
#                            ann_cosine_topk_filtered -- the brute
#                            ground truth, this round's _PRIORITY --
#                            plus ann_ivf_multiprobe_topk,
#                            ann_ivf_index_search, and
#                            ann_pq_recall_bounds; the LSH band-join
#                            kernel itself stays driver-covered via
#                            dedup_minhash_lsh_pairs, which rides the
#                            same bucket-join generator)
#   sat_load_lineitem_composite (the INSERT..SELECT anti-join sink --
#                            SURVEY S7 -- keeps two driver rows via
#                            hub_load_lineitem_composite and
#                            link_load_order_part_supplier on the
#                            same composite-key grain, and the
#                            satellite surface itself stays
#                            driver-verified via
#                            dv_round_trip_customer, in this round's
#                            _PRIORITY)
#   documents_pack_sequences (fourth candidate, matching the fourth
#                            r15 mid documents_packed_token_stream:
#                            the token-stream oracle replays the
#                            ENTIRE pack_sequences placement CTE
#                            before exploding per-token, so its
#                            coverage is a strict superset -- the
#                            events_hourly_rollup exact-subset
#                            precedent; the multimodal planner row
#                            documents_pack_multimodal ALSO carries
#                            the same bucket construction and is a
#                            sibling r15 mid)
#   corpus_token_budget_sample (fifth candidate, matching the fifth
#                            r15 mid documents_multimodal_budget_sample:
#                            that oracle replays this row's ENTIRE
#                            lang-CASE + bucket-greedy prefix
#                            construction and extends the budget cost
#                            with the per-example media bill -- empty
#                            links degenerate to this row byte-exactly
#                            (pinned in tests/test_multimodal_budget.py),
#                            the documents_pack_sequences exact-subset
#                            precedent one entry up)
# r16: the five candidates above were RETIRED this round (the r16
# rotation executed them); r16 is an optimization round with NO new
# registrations, so no mid-order rows need matching candidates and
# the list is empty until the next build round registers queries.
_NEXT_RETIREMENT_CANDIDATES = []
# NOTE for round 13: EXECUTED -- see the "Round 13 state" note beside
# _NEXT_RETIREMENT_CANDIDATES above (the mechanical swap the r12 note
# prescribed, invariants re-run before commit).
# r13 oracle candidacies: EXECUTED. Both media rows are REGISTERED
# mid-order this round (end of this file), check_oracle-green at
# sf0.001/sf0.01/sf0.1:
#   audio_near_dup_pairs_docs -- the designated r12 candidate (the
#     image SQL with a 65x1 envelope grid; all integers). 0 pairs at
#     sf<=0.01 / 1 pair at sf0.1 on the synthetic corpus (full-payload
#     envelopes only collide on planted exact-dup texts), same
#     sparse-result profile as image_near_dup_pairs_docs; the
#     pair-join machinery is additionally driver-covered dense via
#     the video row below and pytest-covered by planted twins
#     (tests/test_multimodal_audio.py).
#   video_near_dup_pairs_docs -- the name-the-slot resolution of the
#     r12 VERDICT's residual 2: frame-grain packed keys, the image
#     SQL plus a frame explode and the shared-frames >= 2 rollup;
#     dense at every SF (3005 pairs at sf0.001, 40647 at sf0.1).
#   media_hash_rows_docs -- the third r13 registration (added with the
#     media landing zone): multimodal.media_hash_rows, the zone's
#     one-pass hash kernel and phash-sidecar surface, replayed as the
#     union of the three per-family byte replays. Dense at every SF
#     (2731 rows at sf0.001).
# Retire-and-replace designations (the exactly-50 arithmetic at r14):
# audio_near_dup_pairs_docs is matched by dedup_simhash_hamming,
# video_near_dup_pairs_docs by multimodal_decode_stats, and
# media_hash_rows_docs by events_hourly_rollup -- three mids, three
# candidates, the r14 swap closes exactly.
# Round 14 state (EXECUTED per the r13 note and the r13 VERDICT
# directive 1): _PRIORITY = the 50 rows that rested in r13 MINUS the
# three designated retirements (multimodal_decode_stats,
# events_hourly_rollup, dedup_simhash_hamming -- all three confirmed
# RESTING in r13, coverage rationales in the r13 note above) PLUS the
# three r13 mid-order registrations taking their first driver rows
# (media_hash_rows_docs, audio_near_dup_pairs_docs,
# video_near_dup_pairs_docs -- the audio row DENSIFIED first per the
# r13 VERDICT's What's wrong #1: planted envelope-preserving twins,
# 17 pairs at sf0.01 instead of 0, byte-exact at three SFs). Exactly
# 50. _DEPRIORITIZED = the 50 rows verified in r13 (CORRECTNESS_r13:
# 50/50 green). Invariants re-checked via
# tests/test_catalog_invariants.py before commit.
# r14 mid-order registrations (first driver rows due r15), both
# check_oracle-green at sf0.001/sf0.01/sf0.1:
#   media_text_pairs_docs -- the r13 VERDICT directive-5 assembly
#     (deduped image canonicals joined to caption docs with both
#     sides' cluster ids and the bipartite pair group), with planted
#     twins so the canonical re-point fires at every SF. Matched by
#     corpus_datacard in _NEXT_RETIREMENT_CANDIDATES above.
#   media_datacard_docs -- the per-type media ANALYZE surface (one
#     conditional-agg pass; avg_bytes the lone float, exact-int
#     division). Matched by events_salted_type_stats. Two mids, two
#     candidates -- the r15 swap closes exactly.
# Round 15 state (EXECUTED per the r14 note and the r14 VERDICT
# directive 1): _PRIORITY = the 50 rows that rested in r14 MINUS the
# two designated retirements (corpus_datacard,
# events_salted_type_stats -- both confirmed RESTING in r14, coverage
# rationales in the r14 note above) PLUS the two r14 mid-order
# registrations taking their first driver rows (media_text_pairs_docs,
# media_datacard_docs). Exactly 50. _DEPRIORITIZED = the 50 rows
# verified in r14 (CORRECTNESS_r14: 50/50 green). Invariants
# re-checked via tests/test_catalog_invariants.py before commit.
# r15 mid-order registrations (first driver rows due r16), all five
# check_oracle-green at sf0.001/sf0.01/sf0.1, each matched by one
# _NEXT_RETIREMENT_CANDIDATES entry so the exactly-50 arithmetic at
# r16 closes (rationales in the candidate block above):
#   documents_pack_multimodal      <- corpus_contamination_pairs
#   media_datacard_drift_docs      <- ann_lsh_bucket_topk
#   media_decode_rules_docs        <- sat_load_lineitem_composite
#   documents_packed_token_stream  <- documents_pack_sequences
#   documents_multimodal_budget_sample <- corpus_token_budget_sample
# (the last two pairings are exact-subset: each mid's oracle replays
# its candidate's ENTIRE construction CTE before extending it).


def _ordered(names: list[str]) -> list[str]:
    names = [n for n in names if n not in _RETIRED]
    head = [n for n in _PRIORITY if n in names]
    tail = [n for n in _DEPRIORITIZED if n in names]
    mid = [n for n in names if n not in head and n not in tail]
    return head + mid + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _QUERIES[n] for n in _ordered(list(_QUERIES))}


def oracle_sql() -> dict[str, str]:
    return {n: _ORACLE[n] for n in _ordered(list(_ORACLE))}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """queries() plus retired-but-still-benched builders: retirement
    frees a correctness-rotation slot, it does not delete the perf
    canary (bench HEADLINE membership is independent of the slot)."""
    out = queries()
    for n in sorted(_RETIRED):
        if n in _QUERIES:
            out[n] = _QUERIES[n]
    return out


def _scratch_dir(prefix: str) -> str:
    """Scratch warehouse for self-contained queries: tmpfs when present
    (metadata-sized tables; disk IO would dominate the timing)."""
    import os
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


# Build-once/mutate-many scratch state for the merge-verb queries.
# The production contract for MERGE/DELETE is "the dimension already
# exists; apply this batch" -- the operator under test is the merge,
# not the initial dimension load. Per (session, dataset, shape) the
# initial state is written ONCE into a template directory; each call
# then clones the template and mutates the clone. The clone hardlinks
# parquet (immutable once written, same trick Warehouse generations
# use) and copies the small sidecar files (meta/pointers/logs) so the
# clone's bookkeeping never shares inodes with the template's. Cost is
# O(file count) metadata ops, ~1ms -- vs ~0.8s re-writing the initial
# dim through Spark per call. Same accounting as the IVF index
# (_ivf_index): the one-time build lands in the cold pass.
_SCRATCH_TEMPLATE_CACHE: dict[tuple, str] = {}


def _clone_tree(src: str, dst: str) -> None:
    import os
    import shutil

    for walk_root, _dirs, files in os.walk(src):
        rel = os.path.relpath(walk_root, src)
        target = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(target, exist_ok=True)
        for fn in files:
            if fn.endswith(".lock"):
                continue  # advisory flocks must not share inodes
            s, d = os.path.join(walk_root, fn), os.path.join(target, fn)
            if fn.endswith(".parquet"):
                try:
                    os.link(s, d)
                    continue
                except OSError:
                    pass
            shutil.copy2(s, d)


def _template_scratch(cache_key: tuple, prefix: str, build) -> str:
    """Return a fresh scratch dir cloned from the session template for
    ``cache_key``, building the template via ``build(dir)`` on first
    use."""
    tmpl = _SCRATCH_TEMPLATE_CACHE.get(cache_key)
    if tmpl is None:
        tmpl = _scratch_dir(prefix + "tmpl_")
        build(tmpl)
        _SCRATCH_TEMPLATE_CACHE[cache_key] = tmpl
    dst = _scratch_dir(prefix)
    _clone_tree(tmpl, dst)
    return dst


def customer_business_key():
    """The demo BusinessKey the reference walks through (README Act 1/2),
    transplanted onto the driver's customer table (FIXTURES.md section 1)."""
    return business_key_from_spec(
        schema_name="main",
        table_name="customer",
        bk_name="customer",
        key_columns=[("c_custkey", "bigint")],
        descriptor_columns=[
            ("c_name", "text", False),
            ("c_nationkey", "int", False),
            ("c_acctbal", "double precision", False),
            ("c_mktsegment", "text", False),
        ],
    )


# ---------------------------------------------------------------------------
# DV core: hub / satellite load projections (SURVEY S4,S7,F1,F2,J5,O5)
# ---------------------------------------------------------------------------


@register(
    "hub_load_customer",
    f"""
    SELECT sha256(CAST(c_custkey AS VARCHAR)) AS hub_customer_hk,
           '{LOAD_TS_STR}' AS load_ts,
           'main' AS record_source,
           CAST(c_custkey AS VARCHAR) AS c_custkey_bk
    FROM customer
    """,
)
def hub_load_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub staging rows (reference: dv_loader.rs:160-176): sha256 hash key
    over ::TEXT-rendered BK parts, comma-joined."""
    from .build.loader import hub_stage_df

    src = load_table(spark, sf_dir, "customer")
    df = hub_stage_df(src, customer_business_key(), load_ts=LOAD_TS)
    return df.withColumn("load_ts", F.date_format("load_ts", "yyyy-MM-dd HH:mm:ss"))


@register(
    "sat_load_customer",
    f"""
    SELECT sha256(CAST(c_custkey AS VARCHAR)) AS hub_customer_hk,
           '{LOAD_TS_STR}' AS load_ts,
           'main' AS record_source,
           sha256(concat_ws(',',
                            c_name,
                            CAST(c_nationkey AS VARCHAR),
                            CAST(CAST(c_acctbal AS DECIMAL(38,2)) AS VARCHAR),
                            c_mktsegment)) AS sat_customer_hd,
           c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def sat_load_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Satellite staging rows with hash-diff (reference: dv_loader.rs:325-357)."""
    from .build.loader import satellite_stage_df

    src = load_table(spark, sf_dir, "customer")
    df = satellite_stage_df(src, customer_business_key(), "customer", load_ts=LOAD_TS)
    return df.withColumn("load_ts", F.date_format("load_ts", "yyyy-MM-dd HH:mm:ss"))


@register(
    "ghost_records_customer",
    """
    SELECT sha256('-1') AS hub_customer_hk,
           '0001-01-01 00:00:00' AS load_ts,
           'SYSTEM' AS record_source,
           '-1' AS c_custkey_bk
    UNION ALL
    SELECT sha256('-2'), '0001-01-01 00:00:00', 'SYSTEM', '-2'
    """,
)
def ghost_records_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ghost-record union (reference: dv_loader.rs:110-135; SURVEY O5)."""
    from .build.loader import ghost_records_df

    src = load_table(spark, sf_dir, "customer")
    df = ghost_records_df(src, customer_business_key())
    return df.withColumn("load_ts", F.date_format("load_ts", "yyyy-MM-dd HH:mm:ss"))


# hub_new_keys_anti_join retired r8 (slot freed for ann_pq_recall_bounds /
# documents_jsonl_roundtrip): SURVEY J5 anti-join coverage held by
# hub_load_customer (r7 green, left_anti inside build/loader.py) and
# orders_without_lineitems_anti.


# ---------------------------------------------------------------------------
# Status engine (SURVEY W1/W2/A2/F4/P2/P5/P9/J1/J6) over shared fixtures
# ---------------------------------------------------------------------------

from .fixtures import (  # noqa: E402
    source_objects_df,
    source_objects_values_sql,
    transformer_responses_df,
    transformer_responses_values_sql,
)

_STATUS_ORACLE = f"""
WITH
confidence_level AS (SELECT CAST(0.8 AS DECIMAL(3,2)) AS value),
so AS (SELECT * FROM {source_objects_values_sql()}),
tr AS (SELECT * FROM {transformer_responses_values_sql()}),
cal AS (
    SELECT MAX(pk_transformer_responses) AS max_pk
    FROM tr GROUP BY fk_source_objects
),
latest AS (
    SELECT tr.* FROM tr JOIN cal ON tr.pk_transformer_responses = cal.max_pk
),
prep AS (
    SELECT
        t.pk_transformer_responses,
        s.schema_name, s.table_name, s.column_name, s.column_ordinal_position,
        t.confidence_score, t.reason, t.category, t.model_name,
        MAX(CASE WHEN t.category = 'Business Key Part'
                  AND t.confidence_score < cl.value THEN 1 ELSE 0 END)
            OVER (PARTITION BY s.schema_name, s.table_name) AS bk_hold,
        SUM(CASE WHEN t.category = 'Business Key Part' THEN 1 ELSE 0 END)
            OVER (PARTITION BY s.schema_name, s.table_name) AS bkp_cnt
    FROM so AS s
    JOIN confidence_level AS cl ON true
    LEFT JOIN latest AS t ON s.pk_source_objects = t.fk_source_objects
    WHERE s.current_flag = 'Y' AND s.deleted_flag = 'N'
),
source_object AS (
    SELECT *,
        CASE
            WHEN confidence_score IS NULL THEN 'Queued for Processing'
            WHEN category = 'Business Key Part' AND confidence_score >= cl.value
                 AND bkp_cnt > 1 THEN 'Ready to Deploy - Awaiting Link Implementation'
            WHEN category <> 'Business Key Part' AND confidence_score >= cl.value
                 AND bk_hold = 0 AND bkp_cnt > 1
                 THEN 'Ready to Deploy - Awaiting Link Implementation'
            WHEN category <> 'Business Key Part' AND confidence_score >= cl.value
                 AND bk_hold = 1 AND bkp_cnt > 1
                 THEN 'Ready to Deploy - Awaiting Business Key (BK), Awaiting Link Implementation'
            WHEN category = 'Business Key Part' AND confidence_score >= cl.value
                 THEN 'Ready to Deploy'
            WHEN category <> 'Business Key Part' AND confidence_score >= cl.value
                 AND bk_hold = 0 THEN 'Ready to Deploy'
            WHEN category <> 'Business Key Part' AND confidence_score >= cl.value
                 AND bk_hold = 1 THEN 'Ready to Deploy - Awaiting Business Key (BK)'
            ELSE 'Requires Attention'
        END AS status,
        CASE WHEN confidence_score IS NOT NULL
             THEN CAST(CAST(confidence_score * 100 AS INT) AS VARCHAR) || '%'
             ELSE '-' END AS confidence_level,
        CASE WHEN confidence_score IS NOT NULL THEN
            'Status: ' ||
            CASE WHEN confidence_score >= cl.value THEN 'Ready to Deploy'
                 ELSE 'Requires Attention' END || ': ' ||
            'Model: ' || model_name ||
            ' categorized this column as a ' || category ||
            ' with a confidence of ' ||
            CAST(CAST(confidence_score * 100 AS INT) AS VARCHAR) || '%' || '.  ' ||
            'Model Reasoning: ' || reason
        ELSE '-' END AS status_response
    FROM prep
    JOIN confidence_level AS cl ON true
)
SELECT schema_name AS "schema", table_name AS "table", column_name AS "column",
       status, confidence_level, status_response
FROM source_object
"""


@register("status_source_column", _STATUS_ORACLE)
def status_source_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_dw.source_column() status ladder (reference: queries.rs:441-532)
    over the shared inline fixture: exercises A2 latest-response, W1/W2
    window flags, and every CASE branch incl. composite-BK links."""
    from .model.status import source_column_df

    return source_column_df(
        source_objects_df(spark).toArrow(), transformer_responses_df(spark).toArrow(), "0.8"
    )


@register(
    "status_window_flags",
    f"""
    WITH
    confidence_level AS (SELECT CAST(0.8 AS DECIMAL(3,2)) AS value),
    so AS (SELECT * FROM {source_objects_values_sql()}),
    tr AS (SELECT * FROM {transformer_responses_values_sql()}),
    cal AS (SELECT MAX(pk_transformer_responses) AS max_pk FROM tr GROUP BY fk_source_objects),
    latest AS (SELECT tr.* FROM tr JOIN cal ON tr.pk_transformer_responses = cal.max_pk)
    SELECT
        CAST(s.pk_source_objects AS BIGINT) AS pk_source_objects,
        MAX(CASE WHEN t.category = 'Business Key Part'
                  AND t.confidence_score < cl.value THEN 1 ELSE 0 END)
            OVER (PARTITION BY s.schema_name, s.table_name) AS bk_hold,
        CAST(SUM(CASE WHEN t.category = 'Business Key Part' THEN 1 ELSE 0 END)
            OVER (PARTITION BY s.schema_name, s.table_name) AS BIGINT) AS bkp_cnt
    FROM so AS s
    JOIN confidence_level AS cl ON true
    LEFT JOIN latest AS t ON s.pk_source_objects = t.fk_source_objects
    WHERE s.current_flag = 'Y' AND s.deleted_flag = 'N'
    """,
)
def status_window_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 whole-partition window flags in isolation (queries.rs:352-363)."""
    from .model.status import status_rows

    rows = status_rows(
        source_objects_df(spark).toArrow(), transformer_responses_df(spark).toArrow(), "0.8"
    )
    return spark.createDataFrame(
        [(r["pk_source_objects"], r["bk_hold"], r["bkp_cnt"]) for r in rows],
        "pk_source_objects bigint, bk_hold int, bkp_cnt bigint",
    )


@register(
    "latest_transformer_responses",
    f"""
    WITH tr AS (SELECT * FROM {transformer_responses_values_sql()}),
    cal AS (SELECT MAX(pk_transformer_responses) AS max_pk FROM tr GROUP BY fk_source_objects)
    SELECT CAST(tr.pk_transformer_responses AS BIGINT) AS pk_transformer_responses,
           CAST(tr.fk_source_objects AS BIGINT) AS fk_source_objects, tr.category,
           CAST(tr.confidence_score AS DOUBLE) AS confidence_score
    FROM tr JOIN cal ON tr.pk_transformer_responses = cal.max_pk
    """,
)
def latest_transformer_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 latest-per-group via MAX(pk)+self-join (queries.rs:332-340)."""
    from .model.status import latest_responses

    latest = latest_responses(transformer_responses_df(spark).toArrow())
    return spark.createDataFrame(
        [
            (r["pk_transformer_responses"], r["fk_source_objects"], r["category"],
             float(r["confidence_score"]))
            for r in latest.values()
        ],
        "pk_transformer_responses bigint, fk_source_objects bigint, category string, "
        "confidence_score double",
    )


# ---------------------------------------------------------------------------
# Include/exclude keyed-list semantics (SURVEY O3/O4/P3) on documents
# ---------------------------------------------------------------------------


@register(
    "tracking_union_except",
    """
    SELECT doc_id FROM documents WHERE source = 'src0'
    UNION
    SELECT doc_id FROM documents WHERE regexp_matches(lang, '^(en|de)$')
    EXCEPT
    SELECT doc_id FROM documents WHERE n_chars < 100
    """,
)
def tracking_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's include/exclude list algebra (queries.rs:164-194):
    deduplicating UNION then EXCEPT, with regex include patterns."""
    docs = load_table(spark, sf_dir, "documents")
    cur = docs.filter(F.col("source") == "src0").select("doc_id")
    inc = docs.filter(F.col("lang").rlike("^(en|de)$")).select("doc_id")
    exc = docs.filter(F.col("n_chars") < 100).select("doc_id")
    return cur.union(inc).distinct().subtract(exc)


# ---------------------------------------------------------------------------
# SCD2 merge final-state (SURVEY S8/P6/P7/J5/J8; queries.rs:221-321)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH
cur(pk_source_objects, column_name, column_ordinal_position, column_type_name,
    current_flag, deleted_flag, has_valid_to) AS (VALUES
    (1, 'a', 1, 'int',      'Y', 'N', 0),
    (2, 'b', 2, 'int',      'Y', 'N', 0),
    (3, 'c', 3, 'int',      'Y', 'N', 0),
    (4, 'd', 4, 'int',      'Y', 'Y', 0),
    (5, 'b', 2, 'smallint', 'N', 'N', 1)),
snap(s_col, s_ord, s_typ) AS (VALUES
    ('a', 1, 'int'), ('b', 2, 'text'), ('d', 4, 'int'), ('e', 5, 'int')),
cur_y AS (SELECT * FROM cur WHERE current_flag = 'Y'),
cur_n AS (SELECT * FROM cur WHERE current_flag <> 'Y'),
j AS (
    SELECT cur_y.*, snap.s_col, snap.s_typ,
           (snap.s_ord IS NOT NULL) AS m,
           ((snap.s_ord IS NOT NULL) AND
            (cur_y.column_name IS DISTINCT FROM snap.s_col OR
             cur_y.column_type_name IS DISTINCT FROM snap.s_typ)) AS changed
    FROM cur_y LEFT JOIN snap ON cur_y.column_ordinal_position = snap.s_ord
),
upd AS (
    SELECT pk_source_objects, column_name, column_ordinal_position, column_type_name,
           CASE WHEN changed THEN 'N' ELSE current_flag END AS current_flag,
           CASE WHEN NOT m THEN 'Y'
                WHEN m AND NOT changed AND deleted_flag = 'Y' THEN 'N'
                ELSE deleted_flag END AS deleted_flag,
           CASE WHEN changed THEN 1 ELSE has_valid_to END AS has_valid_to
    FROM j
),
ins AS (
    SELECT 5 + CAST(ROW_NUMBER() OVER (ORDER BY s.s_ord) AS BIGINT) AS pk_source_objects,
           s.s_col AS column_name, s.s_ord AS column_ordinal_position,
           s.s_typ AS column_type_name,
           'Y' AS current_flag, 'N' AS deleted_flag, 0 AS has_valid_to
    FROM snap AS s
    WHERE s.s_ord NOT IN (SELECT column_ordinal_position FROM j WHERE NOT changed)
)
SELECT CAST(pk_source_objects AS BIGINT) AS pk_source_objects, column_name,
       column_ordinal_position, column_type_name, current_flag, deleted_flag,
       has_valid_to
FROM upd
UNION ALL
SELECT CAST(pk_source_objects AS BIGINT), column_name, column_ordinal_position,
       column_type_name, current_flag, deleted_flag, has_valid_to
FROM cur_n
UNION ALL
SELECT pk_source_objects, column_name, column_ordinal_position, column_type_name,
       current_flag, deleted_flag, has_valid_to
FROM ins
"""


@register("scd2_merge_state", _SCD2_ORACLE)
def scd2_merge_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the real 4-step SCD2 merge (catalog/scd2.py) on a fixture
    covering every transition -- unchanged, type-change close+reinsert,
    delete, resurrect, untouched history -- and returns the final table
    state. Oracle recomputes the same state in SQL."""
    import tempfile

    from .catalog.scd2 import SOURCE_OBJECTS_SCHEMA, ensure_table, merge_snapshot
    from .warehouse import Warehouse

    as_of = datetime.datetime(2024, 6, 1)
    earlier = datetime.datetime(2024, 1, 1)

    def so_row(pk, col, ord_, typ, cur, dele, valid_to):
        return (
            pk, 1, "s", "NA", 10, "t", "NA", ord_, col, typ.split("(")[0], None,
            typ, "NA", 0, "NA", 0, "N", earlier, valid_to, cur, dele,
        )

    cur_rows = [
        so_row(1, "a", 1, "int", "Y", "N", None),
        so_row(2, "b", 2, "int", "Y", "N", None),
        so_row(3, "c", 3, "int", "Y", "N", None),
        so_row(4, "d", 4, "int", "Y", "Y", None),
        so_row(5, "b", 2, "smallint", "N", "N", earlier),
    ]

    def snap_row(col, ord_, typ):
        return (1, "s", "NA", 10, "t", "NA", ord_, col, typ.split("(")[0], None,
                typ, "NA", 0, "NA", 0)

    snap_rows = [
        snap_row("a", 1, "int"),
        snap_row("b", 2, "text"),
        snap_row("d", 4, "int"),
        snap_row("e", 5, "int"),
    ]

    from .catalog.introspect import SNAPSHOT_SCHEMA
    from .fixtures import local_relation_df

    def build(d: str) -> None:
        w = Warehouse(spark, d)
        ensure_table(w)
        w.append(
            "auto_dw.source_objects",
            local_relation_df(spark, cur_rows, SOURCE_OBJECTS_SCHEMA),
        )

    # Pre-existing tracking table from the session template
    # (_template_scratch); the timed operator is the 4-step merge.
    wh = Warehouse(
        spark,
        _template_scratch(
            (spark.sparkContext.applicationId, "scd2_state"), "autodw_scd2_", build
        ),
    )
    merge_snapshot(wh, local_relation_df(spark, snap_rows, SNAPSHOT_SCHEMA), as_of=as_of)
    final = wh.read("auto_dw.source_objects")
    return final.select(
        "pk_source_objects",
        "column_name",
        "column_ordinal_position",
        "column_type_name",
        "current_flag",
        "deleted_flag",
        F.when(F.col("valid_to").isNotNull(), 1).otherwise(0).alias("has_valid_to"),
    )


# ---------------------------------------------------------------------------
# Data-scale partitioned SCD2 merge (SURVEY S8/P6/P7/J5 at data grain;
# queries.rs:221-321 semantics, partition-pruned write path)
# ---------------------------------------------------------------------------

_SCD2_PART_ORACLE = """
WITH cust AS (
    SELECT CAST(c_custkey AS BIGINT) AS k, c_name, c_acctbal, c_mktsegment,
           CAST(c_custkey % 16 AS BIGINT) AS key_bucket
    FROM customer),
init AS (
    SELECT k, c_name, c_acctbal, c_mktsegment, key_bucket,
           'Y' AS current_flag,
           CASE WHEN k % 5 = 2 THEN 'Y' ELSE 'N' END AS deleted_flag
    FROM cust),
batch AS (
    SELECT k, c_name,
           CASE WHEN k % 5 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
           c_mktsegment, key_bucket
    FROM cust WHERE key_bucket IN (3, 7) AND k % 5 IN (0, 1, 2)
    UNION ALL
    SELECT k + 10000000, c_name, c_acctbal, c_mktsegment, key_bucket
    FROM cust WHERE key_bucket IN (3, 7) AND k % 5 = 4),
j AS (
    SELECT i.*, b.k AS b_k, b.c_name AS b_name, b.c_acctbal AS b_acctbal,
           b.c_mktsegment AS b_mkt
    FROM init i LEFT JOIN batch b ON i.k = b.k),
upd AS (
    SELECT k, key_bucket, c_name, c_acctbal, c_mktsegment,
           (b_k IS NOT NULL) AS m,
           ((b_k IS NOT NULL) AND
            (c_name IS DISTINCT FROM b_name OR c_acctbal IS DISTINCT FROM b_acctbal
             OR c_mktsegment IS DISTINCT FROM b_mkt)) AS changed,
           deleted_flag, current_flag,
           (c_name = b_name OR c_acctbal = b_acctbal OR c_mktsegment = b_mkt) AS eq_any
    FROM j),
closed AS (
    SELECT k, key_bucket, c_name, c_acctbal, c_mktsegment,
           CASE WHEN changed THEN 'N' ELSE current_flag END AS current_flag,
           CASE WHEN m AND NOT changed AND deleted_flag = 'Y' AND eq_any THEN 'N'
                ELSE deleted_flag END AS deleted_flag,
           '2024-01-01' AS valid_from_day,
           CASE WHEN changed THEN 1 ELSE 0 END AS has_valid_to
    FROM upd),
ins AS (
    SELECT b.k, b.key_bucket, b.c_name, b.c_acctbal, b.c_mktsegment,
           'Y' AS current_flag, 'N' AS deleted_flag,
           '2024-06-01' AS valid_from_day, 0 AS has_valid_to
    FROM batch b
    WHERE b.k NOT IN (SELECT k FROM upd WHERE NOT changed))
SELECT k AS c_custkey, key_bucket, c_name, c_acctbal, c_mktsegment,
       current_flag, deleted_flag, valid_from_day, has_valid_to
FROM closed
UNION ALL
SELECT k, key_bucket, c_name, c_acctbal, c_mktsegment, current_flag, deleted_flag,
       valid_from_day, has_valid_to
FROM ins
"""


@register("scd2_partitioned_merge", _SCD2_PART_ORACLE)
def scd2_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-scale SCD2 merge over a key-bucket-partitioned customer
    dimension (build/scd2_dim.py): an incremental batch touching 2 of
    16 buckets exercises close-changed, resurrect, insert-new, and
    pass-through -- with every untouched partition pruned from the
    scan and left unwritten. Oracle recomputes the same final state."""
    from .build.scd2_dim import merge_batch
    from .warehouse import Warehouse

    earlier = datetime.datetime(2024, 1, 1)
    tracked = ["c_name", "c_acctbal", "c_mktsegment"]
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        "c_acctbal",
        "c_mktsegment",
        F.pmod(F.col("c_custkey").cast("long"), F.lit(16)).cast("long").alias("key_bucket"),
    )
    init = cust.select(
        "c_custkey",
        *tracked,
        "key_bucket",
        F.lit(earlier).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit("Y").alias("current_flag"),
        F.when(F.col("c_custkey") % 5 == 2, F.lit("Y")).otherwise(F.lit("N")).alias(
            "deleted_flag"
        ),
    )

    def build(d: str) -> None:
        w = Warehouse(spark, d)
        w.create_table("dim.customer", init.schema, partition_by=["key_bucket"])
        w.append("dim.customer", init)

    # Pre-existing SCD2 dimension from the session template
    # (_template_scratch); the timed operator is the incremental merge.
    wh = Warehouse(
        spark,
        _template_scratch(
            (spark.sparkContext.applicationId, sf_dir, "scd2_dim16"),
            "autodw_scd2dim_",
            build,
        ),
    )

    base = cust.filter(F.col("key_bucket").isin(3, 7))
    represent = base.filter((F.col("c_custkey") % 5).isin(0, 1, 2)).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    new_keys = base.filter(F.col("c_custkey") % 5 == 4).withColumn(
        "c_custkey", F.col("c_custkey") + 10_000_000  # 10M % 16 == 0: bucket-stable
    )
    merge_batch(
        wh,
        "dim.customer",
        represent.unionByName(new_keys),
        key_cols=["c_custkey"],
        tracked_cols=tracked,
        as_of=LOAD_TS,
    )
    final = wh.read("dim.customer")
    return final.select(
        "c_custkey",
        F.col("key_bucket").cast("long").alias("key_bucket"),
        *tracked,
        "current_flag",
        "deleted_flag",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from_day"),
        F.when(F.col("valid_to").isNotNull(), 1).otherwise(0).cast("int").alias(
            "has_valid_to"
        ),
    )


# ---------------------------------------------------------------------------
# Analytical coverage (SURVEY A1/A3/A6/J2/J4/O1/O2/F4-F9) + bench headliners.
# Doubles aggregate through DECIMAL (exact, order-independent) and emit
# DOUBLE so Spark and DuckDB hash identically.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           -- decimal -> VARCHAR -> DOUBLE: DuckDB's direct decimal->double
           -- cast (int128 / 10^scale) can land 1 ULP off the correctly
           -- rounded value Java BigDecimal produces; the string hop is
           -- exact then correctly rounded (r11 find, latent at any SF)
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
                    (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
                    (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4))) *
                    (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the multi-aggregate groupBy shape
    of the reference's A1/A6 operators at data scale.

    Decimal widths are TIGHT on purpose (price 12,4; rates 6,4): the
    old uniform (18,4) made the triple charge product overflow
    precision 38, where Spark reduces scale (per-row rounding at scale
    6) and DuckDB takes a different overflow path -- a 4e-9 divergence
    that only surfaced on sf0.001's values (caught r11). With tight
    factors the full product is (28,12): exact, order-independent, and
    identical in both engines at every SF."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(12,4)")  # noqa: E731
    rate = lambda c: F.col(c).cast("decimal(6,4)")  # noqa: E731
    one = F.lit(1).cast("decimal(5,4)")  # a bare 1 types (10,0) and
    # re-inflates the product precision past 38 -- the overflow this
    # row exists to avoid
    disc_price = dec("l_extendedprice") * (one - rate("l_discount"))
    charge = disc_price * (one + rate("l_tax"))
    g = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("dq"),
            F.sum(dec("l_extendedprice")).alias("dp"),
            F.sum(disc_price).alias("ddp"),
            F.sum(charge).alias("dch"),
            F.sum(rate("l_discount")).alias("ddisc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("dq").cast("double").alias("sum_qty"),
        F.col("dp").cast("double").alias("sum_base_price"),
        F.col("ddp").cast("double").alias("sum_disc_price"),
        F.col("dch").cast("double").alias("sum_charge"),
        (F.col("dq").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("dp").cast("double") / F.col("count_order")).alias("avg_price"),
        (F.col("ddisc").cast("double") / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dim filter -> 3-way join -> agg -> top-n.

    customer SCALES with SF (hundreds of GB at 100 TB), so no forced
    broadcast hint -- AQE's size-based planning picks broadcast when the
    filtered side actually fits and shuffle-hash/sort-merge when it
    doesn't. lineitem never shuffles twice either way."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    dec = lambda c_: F.col(c_).cast("decimal(18,4)")  # noqa: E731
    j = li.join(
        o.join(c, o["o_custkey"] == c["c_custkey"]),
        li["l_orderkey"] == o["o_orderkey"],
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).alias("rev"))
        .select(
            "l_orderkey",
            F.col("rev").cast("double").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join (SURVEY J4 at data scale).

    Broadcast hints only on the CONSTANT-size dims (nation: 25 rows,
    region: 5 rows -- fixed at every SF). customer and supplier scale
    linearly with SF, so they carry no hint: forcing them would override
    AQE's size check and OOM at the 100 TB target. AQE still broadcasts
    them at small SF where they genuinely fit."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dec = lambda c_: F.col(c_).cast("decimal(18,4)")  # noqa: E731
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        j.groupBy("n_name")
        .agg(F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).alias("rev"))
        .select("n_name", F.col("rev").cast("double").alias("revenue"))
    )


@register(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() top-n per group -- the idiomatic Spark replacement the
    survey names for the A2 latest-per-group pattern (SURVEY 2.5)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").cast("double"))
    )


@register(
    "events_hourly_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch rollup on the event stream table (the batch
    twin of the streaming job in streaming/jobs.py), including the
    nanos->micros timestamp normalization."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


@register(
    "events_rollup_hierarchy",
    """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP (event_type, date_trunc('day', ts))
    """,
)
def events_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS / ROLLUP hierarchy (type -> type+day -> grand
    total) in one aggregation pass -- Catalyst expands the sets and
    keeps map-side partial aggregation; the fixture has no NULL keys,
    so COALESCE marks the rolled-up levels unambiguously."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    return (
        ev.rollup(F.col("event_type"), day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_sessionize",
    """
    WITH o AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM o)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_no
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session;
    session_window-compatible semantics): LAG boundary flag + running
    SUM sharing one user_id window partitioning, then a grouped
    rollup. The batch twin of streaming session_window."""
    from .functions.sessions import sessionize

    return sessionize(load_table(spark, sf_dir, "events"))


@register(
    "part_name_tokens_explode",
    """
    SELECT p_partkey, token
    FROM part, unnest(string_split(p_name, ' ')) AS t(token)
    """,
)
def part_name_tokens_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode (SURVEY F9: unnest(conkey) analog) over part names."""
    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", F.explode(F.split("p_name", " ")).alias("token"))


# (orders_json_payload retired r7: F8 to_json(named_struct) stays
# driver-covered by source_table_prompt_payload, json extraction by
# events_props_json_extract.)


@register(
    "orders_without_lineitems_anti",
    """
    SELECT o_orderkey FROM orders
    WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    """,
)
def orders_without_lineitems_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti at data scale (SURVEY J5/J8)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_anti").select("o_orderkey")


@register(
    "customer_order_coalesce_outer",
    """
    SELECT c_custkey,
           COALESCE(CAST(cnt AS BIGINT), 0) AS n_orders
    FROM customer
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) oc
      ON c_custkey = oc.o_custkey
    """,
)
def customer_order_coalesce_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN + COALESCE default (SURVEY J1/F5)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return c.join(oc, c["c_custkey"] == oc["o_custkey"], "left").select(
        "c_custkey", F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis / dedup / similarity / multimodal
# ---------------------------------------------------------------------------

from .functions.text import LANG_STOPWORDS  # noqa: E402

# derived from the library's stopword lists so oracle and Spark side
# can never drift
_LANG_RE = {
    lang: r"\b(" + "|".join(words) + r")\b" for lang, words in LANG_STOPWORDS.items()
}


@register(
    "text_language_id",
    f"""
    WITH s AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '{_LANG_RE["de"]}')) AS score_de,
               len(regexp_extract_all(lower(text), '{_LANG_RE["en"]}')) AS score_en,
               len(regexp_extract_all(lower(text), '{_LANG_RE["es"]}')) AS score_es,
               len(regexp_extract_all(lower(text), '{_LANG_RE["fr"]}')) AS score_fr
        FROM documents)
    SELECT doc_id, score_de, score_en, score_es, score_fr,
           CASE WHEN score_de = 0 AND score_en = 0 AND score_es = 0 AND score_fr = 0
                THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr
                THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS detected_lang
    FROM s
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-count language ID (deterministic argmax, tie -> code asc)."""
    from .functions.text import language_id

    return language_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_quality_scores",
    r"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) AS alpha_ratio,
           CAST(len(regexp_extract_all(text, '[^\sA-Za-z0-9]')) AS DOUBLE) / length(text) AS punct_ratio,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text) AS digit_ratio,
           CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text) AS upper_ratio,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|a|to|in|not)\b')) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio,
           CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) AS mean_word_len
    FROM documents
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length/punct/stopword ratios)."""
    from .functions.text import quality_features

    return quality_features(load_table(spark, sf_dir, "documents"))


@register(
    "text_token_counts",
    r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish pre-tokenizer counts."""
    from .functions.text import token_counts

    return token_counts(load_table(spark, sf_dir, "documents"))


@register(
    "text_repetition",
    """
    WITH n AS (
        SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
        FROM documents),
    g AS (
        SELECT doc_id,
               [substr(norm, i, 3)
                for i in range(1, greatest(length(norm) - 2, 1) + 1)] AS grams,
               regexp_split_to_array(trim(norm), ' ') AS words
        FROM n)
    SELECT doc_id,
           len(grams) AS n_grams,
           1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS dup_gram_ratio,
           1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS dup_word_ratio
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repetition ratios (duplicate 3-grams / words) -- the
    Gopher-style repetition quality heuristic as pure array math."""
    from .functions.text import repetition_scores

    return repetition_scores(load_table(spark, sf_dir, "documents"))


_TOKEN_BUDGET_ORACLE = f"""
WITH f0 AS (
    SELECT doc_id, text,
           len(regexp_extract_all(lower(text), '{_LANG_RE["de"]}')) AS score_de,
           len(regexp_extract_all(lower(text), '{_LANG_RE["en"]}')) AS score_en,
           len(regexp_extract_all(lower(text), '{_LANG_RE["es"]}')) AS score_es,
           len(regexp_extract_all(lower(text), '{_LANG_RE["fr"]}')) AS score_fr
    FROM documents),
f AS (
    SELECT doc_id,
           CASE WHEN score_de = 0 AND score_en = 0 AND score_es = 0 AND score_fr = 0
                THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr
                THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS detected_lang,
           COALESCE(len(regexp_extract_all(text,
                        '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')), 0) AS n_bpe_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 256 AS bucket
    FROM f0),
b AS (
    SELECT detected_lang, bucket, SUM(n_bpe_tokens) AS btok
    FROM f GROUP BY 1, 2),
c AS (
    SELECT detected_lang, bucket,
           COALESCE(SUM(btok) OVER (PARTITION BY detected_lang ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM b),
d AS (
    SELECT f.doc_id, f.detected_lang, f.n_bpe_tokens, c.cum_before,
           SUM(f.n_bpe_tokens) OVER (PARTITION BY f.detected_lang, f.bucket
                    ORDER BY f.h, f.doc_id ROWS UNBOUNDED PRECEDING) AS dcum
    FROM f JOIN c ON f.detected_lang = c.detected_lang AND f.bucket = c.bucket)
SELECT doc_id, detected_lang, CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens
FROM d WHERE cum_before + dcum <= 20000
"""


@register("corpus_token_budget_sample", _TOKEN_BUDGET_ORACLE)
def corpus_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget sampling in deterministic hash order,
    bucket-coarse so no language needs a single-partition sort (the
    pretraining-mix construction step)."""
    from .functions.corpus import token_budget_sample

    return token_budget_sample(load_table(spark, sf_dir, "documents"))


_NORM_SQL = (
    "array_to_string(list_sort(list_distinct(regexp_split_to_array(trim("
    "regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+'))), ' ')"
)


@register(
    "text_fingerprints",
    f"""
    SELECT doc_id,
           sha256(text) AS exact_hash,
           md5({_NORM_SQL}) AS fingerprint
    FROM documents
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha256 exact-dup key + md5 token-set fingerprint."""
    from .functions.text import fingerprints

    return fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "text_word_entropy",
    """
    WITH w AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(
                   regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   '\\s+')) AS w
        FROM documents),
    wc AS (
        SELECT doc_id, w, COUNT(*) AS c FROM w WHERE w <> '' GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           COUNT(*) AS n_distinct_words,
           CAST(ROUND((log2(CAST(SUM(c) AS DOUBLE))
                 - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                   / CAST(SUM(c) AS DOUBLE)) * 1000, 0) AS BIGINT)
               AS entropy_mbits
    FROM wc GROUP BY doc_id
    """,
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram Shannon entropy (functions/text.py word_entropy),
    two map-side-combined shuffles. Hash-hardening, round 3 (r7 VERDICT
    directive 1): the r6/r7 driver rows failed hash-match while
    verifying green against local DuckDB, and the r6 DECIMAL(18,6)
    hardening proved INSUFFICIENT -- so every engine-divergent surface
    leaves the hashed bytes at once. (a) Tokenization is the
    ``word_tokens`` lowercase-alnum normalization, the exact shape the
    driver environment already hash-matches (corpus_decontaminate,
    text_fingerprints), not raw '\\s+' splitting. (b) The score is a
    scaled BIGINT (millibits: ROUND(H*1000)): integer columns hash
    identically under any driver canonicalization, and a libm or
    sum-order skew of ~1e-12 can only flip the 1e-3 grid within 1e-12
    of a boundary."""
    from .functions.text import word_entropy

    return word_entropy(
        load_table(spark, sf_dir, "documents"), decimals=None, normalized=True
    ).select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round(F.col("entropy_bits") * 1000, 0).cast("bigint").alias("entropy_mbits"),
    )


@register(
    "text_unigram_logprob",
    """
    WITH w AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(
                   regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   '\\s+')) AS w
        FROM documents),
    words AS (SELECT doc_id, w FROM w WHERE w <> ''),
    mat AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY 1, 2),
    freq AS (SELECT w, SUM(c) AS n FROM mat GROUP BY w),
    tot AS (SELECT SUM(n) AS total FROM freq)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(ROUND(SUM(c * log10(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)))
                      / SUM(c) * 1000, 0) AS BIGINT) AS avg_logprob_m
    FROM mat JOIN freq USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log10-probability under the corpus's own
    unigram LM -- the CCNet-style perplexity-filter quality signal
    (functions/text.py unigram_logprob): rare-token gibberish scores
    low, boilerplate high. One model-build shuffle + one scoring join
    + one rollup. Hash-hardened like text_word_entropy (r7 VERDICT
    directive 1): word_tokens normalization + scaled-BIGINT score
    (milli-log10, ROUND(avg*1000)) so the hashed bytes are
    integer-only on both engines."""
    from .functions.text import unigram_logprob

    return unigram_logprob(
        load_table(spark, sf_dir, "documents"), decimals=None, normalized=True
    ).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("avg_logprob") * 1000, 0).cast("bigint").alias("avg_logprob_m"),
    )


@register(
    "dedup_exact_documents",
    """
    SELECT sha256(text) AS exact_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one groupBy shuffle on the digest."""
    from .functions.dedup import dedup_exact

    return dedup_exact(load_table(spark, sf_dir, "documents"))


_SHINGLE_SQL = (
    "list_distinct([substr(norm, i, 5)"
    " for i in range(1, greatest(length(norm) - 4, 1) + 1)])"
)

_MINHASH_ORACLE = f"""
WITH
norm AS (
    SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
    FROM documents),
shingles AS (
    SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM norm),
hashed AS (
    SELECT doc_id,
           ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h1,
           ('0x' || substr(md5(sh), 9, 8))::BIGINT AS h2
    FROM shingles),
seeded AS (
    SELECT h.doc_id, r.range AS seed,
           (h.h1 + r.range * h.h2) & 4294967295 AS g
    FROM hashed h CROSS JOIN range(16) r),
sigs AS (
    SELECT doc_id, seed, MIN(g) AS minhash
    FROM seeded GROUP BY doc_id, seed),
bands AS (
    SELECT doc_id, CAST(seed // 4 AS INT) AS band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_key
    FROM sigs GROUP BY doc_id, seed // 4)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.band = b.band
WHERE a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh_pairs", _MINHASH_ORACLE)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 hashes) + LSH (4 bands x 4) candidate pairs; the
    shuffle key is the band signature, never the O(n^2) pair space."""
    from .functions.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(load_table(spark, sf_dir, "documents"))


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
cand_pairs AS ({_MINHASH_ORACLE}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM cand_pairs
    UNION ALL
    SELECT id_b, id_a FROM cand_pairs),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
"""


@register("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate pairs:
    cluster_id = min doc_id per component (singletons keep their own
    id). Pairwise dedup output becomes keep/drop sets -- the step a
    training-data pipeline actually acts on. Shares the pinned cluster
    assignment with the corpus_clean_* queries (one LSH pass for all
    three consumers)."""
    from .functions.corpus import cluster_assignments

    docs = load_table(spark, sf_dir, "documents")
    return cluster_assignments(docs, cache_key=sf_dir)


_KEEP_BEST_ORACLE = f"""
WITH clusters AS ({_CLUSTERS_ORACLE}),
scored AS (
    SELECT c.cluster_id, d.doc_id, d.n_chars,
           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                              ORDER BY d.n_chars DESC, d.doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
    FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_score, n_members
FROM scored WHERE rn = 1
"""


@register("dedup_keep_best_documents", _KEEP_BEST_ORACLE)
def dedup_keep_best_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: keep the
    longest member (ties -> lowest id) with the member count -- the
    keep-rule real pipelines apply instead of min-id-wins. Rides the
    shared per-session cluster assignment (one LSH pass for all
    dedup/corpus consumers)."""
    from .functions.corpus import cluster_assignments
    from .functions.dedup import keep_best_per_cluster

    docs = load_table(spark, sf_dir, "documents")
    return keep_best_per_cluster(
        docs, cluster_assignments(docs, cache_key=sf_dir), "n_chars"
    )


_CLEAN_FEATS_SQL = f"""(
    WITH s AS (
        SELECT doc_id, text,
               len(regexp_extract_all(lower(text), '{_LANG_RE["de"]}')) AS score_de,
               len(regexp_extract_all(lower(text), '{_LANG_RE["en"]}')) AS score_en,
               len(regexp_extract_all(lower(text), '{_LANG_RE["es"]}')) AS score_es,
               len(regexp_extract_all(lower(text), '{_LANG_RE["fr"]}')) AS score_fr
        FROM documents)
    SELECT doc_id,
           CASE WHEN score_de = 0 AND score_en = 0 AND score_es = 0 AND score_fr = 0
                THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr
                THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS detected_lang,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text)
               AS alpha_ratio,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
    FROM s
) f
JOIN ({_CLUSTERS_ORACLE}) cl
  ON f.doc_id = cl.doc_id AND cl.doc_id = cl.cluster_id
WHERE f.detected_lang <> 'und' AND f.n_words >= 5 AND f.alpha_ratio >= 0.5"""

_CLEAN_DOCS_ORACLE = f"""
SELECT f.doc_id, f.detected_lang, f.n_words, f.alpha_ratio, f.n_bpe_tokens
FROM {_CLEAN_FEATS_SQL}
"""

@register("corpus_clean_docs", _CLEAN_DOCS_ORACLE)
def corpus_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level cleaned corpus: every surviving document with its
    language, word count, alpha ratio, and token count -- the
    discriminating (per-row) check for the composed pipeline
    (functions/corpus.py clean_corpus; its per-language rollup twin
    clean_corpus_summary stays pytest-covered -- the catalog row
    corpus_clean_summary was retired r8, the summary being a pure
    GROUP BY over exactly these rows)."""
    from .functions.corpus import clean_corpus

    return clean_corpus(load_table(spark, sf_dir, "documents"), dedup_cache_key=sf_dir)


def _profile_col_sql(c: str, double: bool = False) -> str:
    mn, mx = f"MIN({c})", f"MAX({c})"
    if double:
        mn = f"CAST({mn} AS DECIMAL(38,2))"
        mx = f"CAST({mx} AS DECIMAL(38,2))"
    return f"""
    SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST({mn} AS VARCHAR) AS min_value,
           CAST({mx} AS VARCHAR) AS max_value
    FROM customer"""


_PROFILE_ORACLE = " UNION ALL ".join(
    _profile_col_sql(c, double=(c == "c_acctbal"))
    for c in ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
)


@register("source_profile_customer", _PROFILE_ORACLE)
def source_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling of a source table (count/nulls/distinct/min/max
    per column in ONE aggregation pass + plan-level unpivot) -- the
    data-side enrichment for the catalog crawl's classification
    context (queries.rs:71-135 carries only catalog metadata)."""
    from .catalog.profile import profile_table

    return profile_table(
        load_table(spark, sf_dir, "customer"),
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )


_PII_SCAN_COLS = ("lang", "source", "contact_note", "support_line")
_PII_SCAN_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
)

# The synthetic corpus carries no natural PII, so the scan target
# plants the seller.sql bait shape deterministically on BOTH sides:
# an email in every 7th doc's innocently-named contact_note, a phone
# in every 11th doc's support_line.
_PII_SCAN_SYNTH = """
    synth AS (
        SELECT lang, source,
               CASE WHEN doc_id % 7 = 0
                    THEN 'reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    ELSE 'no contact on file' END AS contact_note,
               CASE WHEN doc_id % 11 = 0
                    THEN 'call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
                         || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                    ELSE '-' END AS support_line
        FROM documents)
"""

_PII_SCAN_ORACLE = "WITH " + _PII_SCAN_SYNTH + " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column_name, '{p}' AS pattern, COUNT(*) AS n_rows,
           CAST(count_if(regexp_matches({c}, '{rx}')) AS BIGINT)
               AS n_matching_rows
    FROM synth"""
    for c in _PII_SCAN_COLS
    for p, rx in _PII_SCAN_PATTERNS
)


@register("documents_pii_scan", _PII_SCAN_ORACLE)
def documents_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-side PII bait detection (catalog/profile.py pii_scan): rows
    matching each PII value pattern, per (column, pattern) -- the
    governance check that catches sensitive values in innocently-named
    columns, which the reference's metadata-only prompts are
    structurally blind to (its demo data plants exactly that bait: an
    email in seller.city, seller.sql:28). One aggregation pass for all
    column x pattern counts + a plan-level unpivot; zero counts are
    reported too (the all-clear is information)."""
    from .catalog.profile import pii_scan

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .otherwise(F.lit("no contact on file"))
        .alias("contact_note"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit("call 555-"),
                (F.lit(100) + F.col("doc_id") % 900).cast("string"),
                F.lit("-"),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        )
        .otherwise(F.lit("-"))
        .alias("support_line"),
    )
    return pii_scan(docs, list(_PII_SCAN_COLS))


_ZIP_VIOLATIONS_ORACLE = """
WITH synth AS (
    SELECT CASE WHEN doc_id % 13 = 0
                THEN CAST(10000 + doc_id % 90000 AS VARCHAR) || 'd'
                ELSE CAST(10000 + doc_id % 90000 AS VARCHAR) END AS zip
    FROM documents),
viol AS (
    SELECT zip AS value, COUNT(*) AS n_rows
    FROM synth
    WHERE zip IS NOT NULL AND NOT regexp_full_match(zip, '(?:[0-9]{5})')
    GROUP BY zip)
SELECT value, n_rows FROM viol
ORDER BY n_rows DESC, value LIMIT 100
"""


@register("documents_zip_format_violations", _ZIP_VIOLATIONS_ORACLE)
def documents_zip_format_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-violation drill-down (catalog/profile.py
    format_violations): distinct values of a column that do not fully
    match the declared format, with counts, bounded at 100 rows -- the
    root-cause step after a classifier or pii_scan flag. Mirrors the
    reference's planted malformed zip ('01026d', seller.sql last row):
    every 13th synthesized zip carries a trailing letter, and exactly
    those surface."""
    from .catalog.profile import format_violations

    docs = load_table(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat((F.lit(10000) + F.col("doc_id") % 90000).cast("string"), F.lit("d")),
        )
        .otherwise((F.lit(10000) + F.col("doc_id") % 90000).cast("string"))
        .alias("zip")
    )
    return format_violations(docs, "zip", "[0-9]{5}")


_CONTAM_GRAMS_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), '\s+'), t -> t <> '') AS ts
        FROM documents),
    grams AS (
        SELECT doc_id,
               list_distinct([array_to_string(ts[i:i+7], ' ')
                              for i in generate_series(1, len(ts) - 7)]) AS gs
        FROM toks WHERE len(ts) >= 8),
    dg AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
    bg_all AS (SELECT doc_id AS bench_id, gram FROM dg WHERE doc_id % 97 = 0),
    -- stop-gram cap mirrors contamination_pairs(max_gram_docs=1000):
    -- grams present in >1000 benchmark docs are dropped on BOTH sides
    -- of the comparison, so implementation and oracle stay the same
    -- function at every scale factor (ADVICE r4).
    bg AS (SELECT bench_id, gram FROM bg_all WHERE gram IN (
               SELECT gram FROM bg_all
               GROUP BY gram HAVING COUNT(DISTINCT bench_id) <= 1000))
"""

_CONTAM_PAIRS_ORACLE = f"""
{_CONTAM_GRAMS_SQL}
SELECT d.doc_id, b.bench_id, COUNT(*) AS n_shared_grams
FROM dg AS d JOIN bg AS b USING (gram)
GROUP BY d.doc_id, b.bench_id
"""


@register("corpus_contamination_pairs", _CONTAM_PAIRS_ORACLE)
def corpus_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination check: word-8-gram overlap between
    every document and a held-out benchmark slice (doc_id % 97 == 0).
    Both sides explode to distinct (id, gram) tables; the join
    shuffles on the gram key only, with ubiquitous benchmark grams
    capped (stop-gram rule) so boilerplate can't create a hot key."""
    from .functions.corpus import contamination_pairs

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_pairs(docs, bench, n=8)


_DECONTAM_ORACLE = f"""
{_CONTAM_GRAMS_SQL}
SELECT doc_id FROM documents
WHERE doc_id NOT IN (
    SELECT DISTINCT d.doc_id FROM dg AS d JOIN bg AS b USING (gram))
"""


@register("corpus_decontaminate", _DECONTAM_ORACLE)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus that survives decontamination: documents sharing no
    word-8-gram with the benchmark slice are kept (anti-join; the
    benchmark's own members flag themselves out by construction)."""
    from .functions.corpus import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=8).select("doc_id")


_SIMHASH_ORACLE = f"""
WITH
norm AS (
    SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(norm, ' '))) AS tok FROM norm),
hashed AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
votes AS (
    SELECT doc_id, r.range AS bit,
           SUM(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM hashed CROSS JOIN range(32) r
    GROUP BY doc_id, r.range)
SELECT doc_id,
       CAST(SUM(CASE WHEN v >= 0 THEN (1::BIGINT << CAST(bit AS INT)) ELSE 0 END)
            AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# dedup_simhash (bare fingerprints) retired r8: dedup_simhash_hamming
# composes the identical signature construction (its oracle embeds
# _SIMHASH_ORACLE above) and then exercises the pigeonhole pair search
# on top, so the fingerprint math stays driver-verified through it.


_SIMHASH_CHUNK_ORACLE = f"""
WITH
sims AS ({_SIMHASH_ORACLE}),
chunks AS (
    SELECT doc_id, simhash, r.range AS pos,
           (simhash >> CAST(r.range * 8 AS INT)) & 255 AS val
    FROM sims CROSS JOIN range(4) r)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM chunks a JOIN chunks b ON a.pos = b.pos AND a.val = b.val
                           AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("dedup_simhash_hamming", _SIMHASH_CHUNK_ORACLE)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-free SimHash near-dup pairs (hamming <= 3) via the
    Manku pigeonhole chunk trick: candidates shuffle on (chunk pos,
    chunk value), never the O(n^2) pair space."""
    from .functions.dedup import simhash_chunk_pairs

    return simhash_chunk_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


@register(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct([substr(norm, i, 3)
                   for i in range(1, greatest(length(norm) - 2, 1) + 1)]) AS sh
        FROM (SELECT doc_id, lang,
                     regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
              FROM documents))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard verifier over lang-blocked candidate pairs."""
    from .functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        blocking_col="lang",
        shingle_k=3,
        threshold=0.3,
    )


_QVEC_SQL = "[CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding]"
_DOT_SQL = "CAST(list_sum([qa.qvec[i] * qb.qvec[i] for i in range(1, 65)]) AS BIGINT)"

_ANN_ORACLE = f"""
WITH q AS (
    SELECT vec_id, {_QVEC_SQL} AS qvec FROM embeddings),
n AS (
    SELECT vec_id, qvec,
           CAST(list_sum([qvec[i] * qvec[i] for i in range(1, 65)]) AS BIGINT) AS qnorm
    FROM q),
sims AS (
    SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
           CAST({_DOT_SQL} AS DOUBLE) /
               (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) AS cosine
    FROM n qa JOIN n qb ON qa.vec_id <> qb.vec_id
    WHERE qa.vec_id < 10),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM sims)
SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
"""


@register("ann_cosine_topk", _ANN_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vecs 0..9: exact integer-
    quantized dot products -> identical IEEE doubles in both engines."""
    from .functions.similarity import brute_force_topk

    return brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    )


_ANN_LSH_ORACLE = f"""
WITH base AS (
    SELECT vec_id,
           concat(
               CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket,
           {_QVEC_SQL} AS qvec
    FROM embeddings),
n AS (
    SELECT vec_id, bucket, qvec,
           CAST(list_sum([qvec[i] * qvec[i] for i in range(1, 65)]) AS BIGINT) AS qnorm
    FROM base),
sims AS (
    SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
           CAST({_DOT_SQL} AS DOUBLE) /
               (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) AS cosine
    FROM n qa JOIN n qb ON qa.bucket = qb.bucket AND qa.vec_id <> qb.vec_id),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM sims)
SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
"""


@register("ann_lsh_bucket_topk", _ANN_LSH_ORACLE)
def ann_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-5: candidates shuffle on the
    bucket key only (the 100 TB path; brute force is the exact baseline).
    hyperplanes=False pins the axis-aligned SQL-expressible baseline;
    the package default is seeded random hyperplanes."""
    from .functions.similarity import lsh_bucket_topk

    return lsh_bucket_topk(
        load_table(spark, sf_dir, "embeddings"), k=5, n_planes=8, hyperplanes=False
    )


_ANN_IVF_ORACLE = f"""
WITH q AS (
    SELECT vec_id, {_QVEC_SQL} AS qvec FROM embeddings),
n AS (
    SELECT vec_id, qvec,
           CAST(list_sum([qvec[i] * qvec[i] for i in range(1, 65)]) AS BIGINT) AS qnorm
    FROM q),
c0 AS (
    SELECT vec_id AS cent_id, qvec AS cv, qnorm AS cn FROM n WHERE vec_id % 50 = 0),
s0 AS (
    SELECT n.vec_id, n.qvec, n.qnorm, c0.cent_id,
           CAST(CAST(list_sum([n.qvec[i] * c0.cv[i] for i in range(1, 65)]) AS BIGINT)
                AS DOUBLE) /
               (sqrt(CAST(n.qnorm AS DOUBLE)) * sqrt(CAST(c0.cn AS DOUBLE))) AS csim
    FROM n CROSS JOIN c0),
a0 AS (
    SELECT vec_id, qvec, qnorm, cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
    FROM s0),
m0 AS (SELECT vec_id, qvec, qnorm, cell FROM a0 WHERE rn = 1),
sums AS (
    SELECT cell, r.range AS pos,
           sum(qvec[CAST(r.range + 1 AS INT)]) AS s, count(*) AS cnt
    FROM m0 CROSS JOIN range(64) r GROUP BY 1, 2),
c1 AS (
    SELECT cell AS cent_id,
           list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY pos) AS cv
    FROM sums GROUP BY cell),
c1n AS (
    SELECT cent_id, cv,
           CAST(list_sum([cv[i] * cv[i] for i in range(1, 65)]) AS BIGINT) AS cn
    FROM c1),
s1 AS (
    SELECT n.vec_id, n.qvec, n.qnorm, c1n.cent_id,
           CAST(CAST(list_sum([n.qvec[i] * c1n.cv[i] for i in range(1, 65)]) AS BIGINT)
                AS DOUBLE) /
               (sqrt(CAST(n.qnorm AS DOUBLE)) * sqrt(CAST(c1n.cn AS DOUBLE))) AS csim
    FROM n CROSS JOIN c1n),
a1 AS (
    SELECT vec_id, qvec, qnorm, cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
    FROM s1),
cells AS (SELECT vec_id, qvec, qnorm, cell FROM a1 WHERE rn = 1),
sims AS (
    SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
           CAST({_DOT_SQL} AS DOUBLE) /
               (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) AS cosine
    FROM cells qa JOIN cells qb ON qa.cell = qb.cell AND qa.vec_id <> qb.vec_id),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM sims)
SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
"""


_IVF_CODEBOOK_CACHE: dict[tuple, DataFrame] = {}


def _ivf_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means-refined IVF codebook (one Lloyd round over the
    stride-50 seed), built once per session per dataset and pinned.

    Index-build amortization is the production IVF contract: the
    codebook is trained by an index-build job and then probed by every
    query (functions/similarity.py ivf_assign docstring); re-running
    Lloyd per query would charge the build to each probe. The cached
    object is the *identical* DataFrame, so ann_ivf_topk and
    ann_ivf_multiprobe_topk stay bit-for-bit oracle-reproducible."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cb = _IVF_CODEBOOK_CACHE.get(key)
    if cb is None:
        from .functions.similarity import ivf_kmeans_codebook

        cb = ivf_kmeans_codebook(
            load_table(spark, sf_dir, "embeddings"), stride=50, iters=1
        ).localCheckpoint(eager=True)
        _IVF_CODEBOOK_CACHE[key] = cb
    return cb


_IVF_INDEX_CACHE: dict[tuple, DataFrame] = {}


def _ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built IVF index: every corpus vector's cell assignment
    against the k-means codebook, materialized once per session per
    dataset (eager checkpoint) and probed by every ivf query.

    This is the other half of the index-build contract _ivf_codebook
    establishes: in production the assignment is a warehouse table
    written by the index-build job (similarity.ivf_assign docstring);
    re-scoring the full corpus against the codebook per probe charges
    the build's dominant cost -- a corpus x codebook broadcast
    cross-score -- to every query (the r5 bench regression)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _IVF_INDEX_CACHE.get(key)
    if idx is None:
        from .functions.similarity import ivf_assign

        emb = load_table(spark, sf_dir, "embeddings")
        # ivf_assign already ends in a (lazy) localCheckpoint; force it
        # with one count instead of stacking a second pin on top, which
        # would hold the full assignment in block storage TWICE.
        idx = ivf_assign(emb, codebook=_ivf_codebook(spark, sf_dir))
        idx.count()
        _IVF_INDEX_CACHE[key] = idx
    return idx


@register("ann_ivf_topk", _ANN_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF single-probe top-5 against the k-means-refined codebook (the
    trained index a production IVF build would use; r3 VERDICT
    directive 2). The cell assignment comes from the shared per-session
    index build (_ivf_index: codebook train + full-corpus assignment,
    paid once); the probe itself is the capped cell-key pair join +
    per-query top-k window only."""
    from .functions.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, k=5, stride=50, assigned=_ivf_index(spark, sf_dir))


_IVF_MULTIPROBE_ORACLE = f"""
WITH q AS (
    SELECT vec_id, {_QVEC_SQL} AS qvec FROM embeddings),
n AS (
    SELECT vec_id, qvec,
           CAST(list_sum([qvec[i] * qvec[i] for i in range(1, 65)]) AS BIGINT) AS qnorm
    FROM q),
c AS (
    SELECT vec_id AS cent_id, qvec AS cv, qnorm AS cn FROM n WHERE vec_id % 50 = 0),
scored AS (
    SELECT n.vec_id, n.qvec, n.qnorm, c.cent_id,
           CAST(CAST(list_sum([n.qvec[i] * c.cv[i] for i in range(1, 65)]) AS BIGINT)
                AS DOUBLE) /
               (sqrt(CAST(n.qnorm AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS csim
    FROM n CROSS JOIN c),
ranked_cells AS (
    SELECT vec_id, qvec, qnorm, cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
    FROM scored),
db AS (SELECT vec_id, qvec, qnorm, cell FROM ranked_cells WHERE rn = 1),
probes AS (SELECT vec_id, qvec, qnorm, cell FROM ranked_cells WHERE rn <= 2),
sims AS (
    SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
           CAST({_DOT_SQL} AS DOUBLE) /
               (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) AS cosine
    FROM probes qa JOIN db qb ON qa.cell = qb.cell AND qa.vec_id <> qb.vec_id),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM sims)
SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
"""


@register("ann_ivf_multiprobe_topk", _IVF_MULTIPROBE_ORACLE)
def ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with 2-probe query expansion: each query searches its two
    nearest cells (database side stays single-cell, so no duplicate
    pairs); recall rises toward brute force at ~2x candidate cost."""
    from .functions.similarity import ivf_topk

    return ivf_topk(load_table(spark, sf_dir, "embeddings"), k=5, stride=50, n_probes=2)


# ann_ivf_kmeans_assign retired r8: the Lloyd-refined assignment it
# verified is the exact construction inside the shared _ivf_index,
# which ann_ivf_topk / ann_ivf_multiprobe_topk / ann_ivf_index_search
# all consume and keep driver-verified end-to-end.


_IVF_WH_CACHE: dict[tuple, object] = {}


def _ivf_wh(spark: SparkSession, sf_dir: str):
    """The PERSISTED IVF index (similarity.build_ivf_index): codebook +
    cell-partitioned assignment as warehouse tables, built once per
    (session, dataset) into a scratch warehouse -- the durable twin of
    the in-process _ivf_index cache, same build-once/probe-many
    accounting (the one-time build lands in the bench cold pass)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    wh = _IVF_WH_CACHE.get(key)
    if wh is None:
        from .functions.similarity import build_ivf_index
        from .warehouse import Warehouse

        wh = Warehouse(spark, _scratch_dir("ivfix_"))
        build_ivf_index(
            wh, load_table(spark, sf_dir, "embeddings"), "annix.emb", stride=50, iters=1
        )
        _IVF_WH_CACHE[key] = wh
    return wh


_IVF_INDEX_SEARCH_ORACLE = f"""
WITH q AS (
    SELECT vec_id, {_QVEC_SQL} AS qvec FROM embeddings),
n AS (
    SELECT vec_id, qvec,
           CAST(list_sum([qvec[i] * qvec[i] for i in range(1, 65)]) AS BIGINT) AS qnorm
    FROM q),
sims AS (
    SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
           CAST({_DOT_SQL} AS DOUBLE) /
               (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) AS cosine
    FROM n qa CROSS JOIN n qb
    WHERE qa.vec_id < 10),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM sims)
SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
"""


@register("ann_ivf_index_search", _IVF_INDEX_SEARCH_ORACLE)
def ann_ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-query k-NN against the PERSISTED IVF index (r6 VERDICT
    directive 4 -- the index family's first driver row): build the
    warehouse index once per session (_ivf_wh), then ivf_search_index
    quantizes 10 external query vectors driver-side, scores them
    against the stored codebook, and reads the probed cells from the
    cell-partitioned assignment table.

    n_probes exceeds the cell count, so EVERY cell is probed and the
    result is exactly brute force -- which is what pins the simple
    brute-force DuckDB oracle (external queries are in the caller's id
    space: strike_self=False, so each query's own corpus twin tops its
    list at cosine 1.0). The pruned single/multi-probe paths keep their
    own oracle rows (ann_ivf_topk, ann_ivf_multiprobe_topk) and the
    partition-pruning scan contract is pytest-pinned in
    tests/test_ann_index.py. The 10-row query collect is request-sized
    by contract (functions/similarity.py ivf_search_index)."""
    from .functions.similarity import ivf_search_index

    wh = _ivf_wh(spark, sf_dir)
    qrows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .collect()
    )
    queries_ext = [(int(r["vec_id"]), list(r["embedding"])) for r in qrows]
    return ivf_search_index(wh, "annix.emb", queries_ext, k=5, n_probes=1 << 20)


_EMB_NEAR_DUP_ORACLE = f"""
WITH base AS (
    SELECT vec_id,
           concat(
               CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket,
           {_QVEC_SQL} AS qvec
    FROM embeddings),
n AS (
    SELECT vec_id, bucket, qvec,
           CAST(list_sum([qvec[i] * qvec[i] for i in range(1, 65)]) AS BIGINT) AS qnorm
    FROM base)
SELECT qa.vec_id AS id_a, qb.vec_id AS id_b,
       CAST({_DOT_SQL} AS DOUBLE) /
           (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) AS cosine
FROM n qa JOIN n qb ON qa.bucket = qb.bucket AND qa.vec_id < qb.vec_id
WHERE CAST({_DOT_SQL} AS DOUBLE) /
          (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) >= 0.25
"""


@register("dedup_embedding_cosine", _EMB_NEAR_DUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-LSH bucket candidates +
    exact quantized-cosine filter (threshold tuned so the synthetic
    near-random corpus still yields a non-trivial pair set)."""
    from .functions.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.25,
        n_planes=4,
        hyperplanes=False,  # axis-aligned SQL-expressible baseline
    )


@register(
    "multimodal_decode_stats",
    """
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
           CAST(length(text) AS INT) AS n_bytes,
           CASE WHEN (doc_id % 3) = 0 OR (doc_id % 3) = 2
                THEN CAST(16 + length(text) % 624 AS INT) END AS width,
           CASE WHEN (doc_id % 3) = 0 OR (doc_id % 3) = 2
                THEN CAST(16 + (length(text) * 7) % 464 AS INT) END AS height,
           CASE WHEN (doc_id % 3) = 0 THEN 1
                WHEN (doc_id % 3) = 1 THEN CAST(1 + length(text) % 1000 AS INT)
                ELSE CAST(1 + length(text) % 120 AS INT) END AS n_frames
    FROM documents
    """,
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode of binary media columns (decode
    itself is a deterministic stub; the Spark plumbing is real). The
    oracle recomputes the stub arithmetic from text length (payloads
    are the UTF-8 text bytes; corpus is ASCII so chars == bytes)."""
    from .functions.multimodal import decode_media, synth_media_df

    media = synth_media_df(load_table(spark, sf_dir, "documents"))
    return decode_media(media).drop("feature")


@register(
    "multimodal_resize",
    """
    WITH m AS (
        SELECT doc_id AS media_id,
               ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
               length(text) AS n
        FROM documents),
    d AS (
        SELECT media_id, media_type,
               CASE WHEN media_type <> 'audio' THEN CAST(16 + n % 624 AS INT) END AS w,
               CASE WHEN media_type <> 'audio' THEN CAST(16 + (n * 7) % 464 AS INT) END AS h
        FROM m),
    r AS (
        SELECT media_id, media_type, w, h,
               CASE WHEN w IS NULL THEN NULL
                    WHEN greatest(w, h) <= 64 THEN w
                    ELSE greatest(1, CAST(w * 64 // greatest(w, h) AS INT)) END AS out_width,
               CASE WHEN h IS NULL THEN NULL
                    WHEN greatest(w, h) <= 64 THEN h
                    ELSE greatest(1, CAST(h * 64 // greatest(w, h) AS INT)) END AS out_height
        FROM d)
    SELECT media_id, media_type, out_width, out_height,
           CAST(out_width * out_height * 3 AS INT) AS thumb_len
    FROM r
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving thumbnail pass (resize stubbed, integer target
    dims exact): 1->1 mapInPandas; audio rows pass with NULL dims. The
    oracle recomputes the integer dimension math; the thumbnail buffer
    is checked by its real length."""
    from .functions.multimodal import resize_media, synth_media_df

    media = synth_media_df(load_table(spark, sf_dir, "documents"))
    return resize_media(media).select(
        "media_id",
        "media_type",
        "out_width",
        "out_height",
        F.length("thumbnail").cast("int").alias("thumb_len"),
    )


@register(
    "multimodal_frame_samples",
    """
    WITH v AS (
        SELECT doc_id AS media_id, CAST(1 + length(text) % 120 AS INT) AS n_frames
        FROM documents WHERE doc_id % 3 = 2),
    s AS (
        SELECT media_id, n_frames, CAST((n_frames + 3) // 4 AS INT) AS stride FROM v)
    SELECT media_id, n_frames, CAST(r.range * stride AS INT) AS frame_no,
           sha256(CAST(media_id AS VARCHAR) || ':' ||
                  CAST(CAST(r.range * stride AS INT) AS VARCHAR)) AS frame_hex
    FROM s CROSS JOIN range(4) r
    WHERE r.range * stride < n_frames
    """,
)
def multimodal_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evenly-strided frame sampling for video rows (<= 4 frames each):
    the 1->N mapInPandas shape. Frame bytes are the deterministic stub
    digest, compared by hex against the oracle's sha256."""
    from .functions.multimodal import sample_frames, synth_media_df

    media = synth_media_df(load_table(spark, sf_dir, "documents"))
    return sample_frames(media).select(
        "media_id",
        "n_frames",
        "frame_no",
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


# ---------------------------------------------------------------------------
# Pending-work detection + prompt payload (SURVEY A1/P8/A5/F8/F13)
# ---------------------------------------------------------------------------


@register(
    "pending_tables_cutoff",
    """
    WITH so(pk_source_objects, table_oid, current_flag, deleted_flag, valid_from) AS
        (VALUES (1, 10, 'Y', 'N', '2024-05-01'),
                (2, 10, 'Y', 'N', '2024-05-01'),
                (3, 20, 'Y', 'N', '2024-04-01'),
                (4, 30, 'Y', 'N', '2024-03-01'),
                (5, 20, 'N', 'N', '2024-01-01')),
    tr(pk_transformer_responses, fk_source_objects, created_at) AS
        (VALUES (100, 1, '2024-04-02'), (101, 3, '2024-05-02')),
    cal AS (
        SELECT table_oid,
               MAX(valid_from) AS max_table_update,
               MAX(created_at) AS max_gen
        FROM so LEFT JOIN tr ON so.pk_source_objects = tr.fk_source_objects
        WHERE current_flag = 'Y' AND deleted_flag = 'N'
        GROUP BY table_oid)
    SELECT DISTINCT CAST(table_oid AS BIGINT) AS table_oid FROM cal
    WHERE max_table_update > max_gen OR max_gen IS NULL
    """,
)
def pending_tables_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/P8 pending-classification cutoff (queries.rs:10-23): table 10
    changed after its last response, table 30 has none -> pending; table
    20 is up to date. Timestamps modeled as ISO strings (MAX agrees)."""
    from .classify.pending import tables_requiring_transformation

    so = spark.createDataFrame(
        [
            (1, 10, "Y", "N", "2024-05-01"),
            (2, 10, "Y", "N", "2024-05-01"),
            (3, 20, "Y", "N", "2024-04-01"),
            (4, 30, "Y", "N", "2024-03-01"),
            (5, 20, "N", "N", "2024-01-01"),
        ],
        ["pk_source_objects", "table_oid", "current_flag", "deleted_flag", "valid_from"],
    )
    tr = spark.createDataFrame(
        [(100, 1, "2024-04-02"), (101, 3, "2024-05-02")],
        ["pk_transformer_responses", "fk_source_objects", "created_at"],
    )
    pending = tables_requiring_transformation(so.toArrow(), tr.toArrow())
    return spark.createDataFrame([(oid,) for oid in pending], "table_oid bigint")


_PROMPT_SO_SQL = """
    (VALUES
        (1, 10, 'public', 'customer', 'customer_id', 1, 'uuid', 1, 'NA', 'Y', 'N', '2024-05-01'),
        (2, 10, 'public', 'customer', 'zip', 2, 'varchar(10)', 0, 'zip code', 'Y', 'N', '2024-05-01')
    ) AS so(pk_source_objects, table_oid, schema_name, table_name, column_name,
            column_ordinal_position, column_type_name, column_pk_ind,
            column_description, current_flag, deleted_flag, valid_from)
"""


@register(
    "source_table_prompt_payload",
    f"""
    WITH so AS (SELECT * FROM {_PROMPT_SO_SQL}),
    prep AS (
        SELECT table_oid, schema_name, table_name, column_ordinal_position AS ord,
               struct_pack(
                   "PK Source Objects" := pk_source_objects,
                   "Column Ordinal Position" := column_ordinal_position) AS column_link,
               'Column No: ' || CAST(column_ordinal_position AS VARCHAR) ||
               ' Named: ' || column_name ||
               ' of type: ' || column_type_name || ' ' ||
               CASE WHEN column_pk_ind = 1 THEN 'And is a primary key.' ELSE '' END ||
               'Column Comments: ' || column_description AS column_details
        FROM so)
    SELECT CAST(table_oid AS BIGINT) AS table_oid,
           CAST(to_json(struct_pack("Column Links" := list(column_link ORDER BY ord)))
               AS VARCHAR) AS table_column_links,
           CAST(to_json(struct_pack(
               "Schema Name" := schema_name,
               "Table Name" := table_name,
               "Column Details" := list(column_details ORDER BY ord))) AS VARCHAR)
               AS table_details
    FROM prep
    GROUP BY table_oid, schema_name, table_name
    """,
)
def source_table_prompt_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/F8 ordered array_agg into JSON prompt payloads (queries.rs:
    25-62), including the 'Column No:' detail format the F13 regex
    parses back out."""
    from .classify.pending import source_table_prompts

    so = spark.createDataFrame(
        [
            (1, 10, "public", "customer", "customer_id", 1, "uuid", 1, "NA", "Y", "N", "2024-05-01"),
            (2, 10, "public", "customer", "zip", 2, "varchar(10)", 0, "zip code", "Y", "N", "2024-05-01"),
        ],
        [
            "pk_source_objects", "table_oid", "schema_name", "table_name",
            "column_name", "column_ordinal_position", "column_type_name",
            "column_pk_ind", "column_description", "current_flag",
            "deleted_flag", "valid_from",
        ],
    )
    tr = spark.createDataFrame(
        [], "pk_transformer_responses BIGINT, fk_source_objects BIGINT, created_at STRING"
    )
    return source_table_prompts(so.toArrow(), tr.toArrow())


@register(
    "auto_dw_hash_parity",
    """
    SELECT c_custkey, sha256(c_name) AS name_hash FROM customer
    """,
)
def auto_dw_hash_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_dw.hash(text) = lowercase hex sha256 (U5/F1, src/lib.rs:
    153-157) -- Spark's built-in sha2 is byte-identical, no UDF."""
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_custkey", F.sha2(F.col("c_name"), 256).alias("name_hash"))


# (source_table_demo_values retired r7 per r6 VERDICT directive 4: the
# S1/U3 demo VALUES row duplicated coverage held by
# source_table_prompt_payload and fixtures.py; its catalog slot went to
# ann_ivf_index_search.)


# ---------------------------------------------------------------------------
# Composite business key (multi-part hub, SURVEY F2 multi-part concat)
# ---------------------------------------------------------------------------


def lineitem_business_key():
    """Composite-PK source (l_orderkey, l_linenumber) -> two-part hub,
    the reference's multi-part ARRAY_TO_STRING path (dv_loader.rs:
    163-176 with >1 part link)."""
    return business_key_from_spec(
        schema_name="main",
        table_name="lineitem",
        bk_name="lineitem",
        key_columns=[("l_orderkey", "bigint"), ("l_linenumber", "int")],
        descriptor_columns=[
            ("l_quantity", "double precision", False),
            ("l_returnflag", "text", False),
        ],
    )


@register(
    "hub_load_lineitem_composite",
    f"""
    SELECT DISTINCT
           sha256(concat_ws(',', CAST(l_orderkey AS VARCHAR),
                                 CAST(l_linenumber AS VARCHAR))) AS hub_lineitem_hk,
           '{LOAD_TS_STR}' AS load_ts,
           'main' AS record_source,
           CAST(l_orderkey AS VARCHAR) AS l_orderkey_bk,
           CAST(l_linenumber AS VARCHAR) AS l_linenumber_bk
    FROM lineitem
    """,
)
def hub_load_lineitem_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-part hub staging: hash over comma-joined rendered parts."""
    from .build.loader import hub_stage_df

    src = load_table(spark, sf_dir, "lineitem")
    df = hub_stage_df(src, lineitem_business_key(), load_ts=LOAD_TS)
    return df.withColumn("load_ts", F.date_format("load_ts", "yyyy-MM-dd HH:mm:ss"))


@register(
    "sat_load_lineitem_composite",
    f"""
    SELECT DISTINCT
           sha256(concat_ws(',', CAST(l_orderkey AS VARCHAR),
                                 CAST(l_linenumber AS VARCHAR))) AS hub_lineitem_hk,
           '{LOAD_TS_STR}' AS load_ts,
           'main' AS record_source,
           sha256(concat_ws(',', CAST(CAST(l_quantity AS DECIMAL(38,2)) AS VARCHAR),
                                 l_returnflag)) AS sat_lineitem_hd,
           CAST(l_quantity AS DOUBLE) AS l_quantity, l_returnflag
    FROM lineitem
    """,
)
def sat_load_lineitem_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Satellite for the composite-key hub: hash-diff over descriptors,
    key hash over both parts."""
    from .build.loader import satellite_stage_df

    src = load_table(spark, sf_dir, "lineitem")
    df = satellite_stage_df(src, lineitem_business_key(), "lineitem", load_ts=LOAD_TS)
    return df.withColumn("load_ts", F.date_format("load_ts", "yyyy-MM-dd HH:mm:ss"))


# ---------------------------------------------------------------------------
# DV link tables (extension completing the reference's Awaiting-Link path)
# ---------------------------------------------------------------------------


def lineitem_link_spec():
    from .build.link import LinkSpec, LinkUnit

    return LinkSpec(
        name="order_part_supplier",
        schema_name="main",
        table_name="lineitem",
        units=[
            LinkUnit("order", ["l_orderkey"]),
            LinkUnit("part", ["l_partkey"]),
            LinkUnit("supplier", ["l_suppkey"]),
        ],
    )


@register(
    "link_load_order_part_supplier",
    f"""
    SELECT DISTINCT
           sha256(concat_ws(',', CAST(l_orderkey AS VARCHAR),
                                 CAST(l_partkey AS VARCHAR),
                                 CAST(l_suppkey AS VARCHAR))) AS link_order_part_supplier_hk,
           '{LOAD_TS_STR}' AS load_ts,
           'main' AS record_source,
           sha256(CAST(l_orderkey AS VARCHAR)) AS hub_order_hk,
           sha256(CAST(l_partkey AS VARCHAR)) AS hub_part_hk,
           sha256(CAST(l_suppkey AS VARCHAR)) AS hub_supplier_hk
    FROM lineitem
    """,
)
def link_load_order_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV link staging over lineitem: link hash over all FK parts plus
    the constituent hub hashes (hash-compatible with each hub load)."""
    from .build.link import link_stage_df

    src = load_table(spark, sf_dir, "lineitem")
    df = link_stage_df(src, lineitem_link_spec(), load_ts=LOAD_TS)
    return df.withColumn("load_ts", F.date_format("load_ts", "yyyy-MM-dd HH:mm:ss"))


@register(
    "events_props_json_extract",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_value
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def events_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the props payload column (the read
    direction of SURVEY F8; from_json/get_json_object stay JVM-side)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


# The stub feature is an 8-bin byte histogram: bin b counts bytes with
# (byte >> 5) == b, normalized by max(len, 1). The corpus is ASCII, so
# the oracle recomputes it from characters. The float32 round-trip is
# replicated with CAST(... AS FLOAT); the rendering is
# floor(double(f32) * 1e6) as BIGINT -- f32->double widening is exact
# and IEEE double multiply/floor is engine-independent, unlike
# decimal/str rendering of floats (Spark and DuckDB round the 6th
# decimal differently for some f32 values).
_FEATURE_BIN_SQL = ", ".join(
    "CAST(CAST(floor(CAST(CAST(CAST(len(list_filter(range(1, length(text) + 1), "
    f"i -> (ascii(text[i]) >> 5) = {b})) AS DOUBLE) / greatest(length(text), 1) "
    "AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS VARCHAR)"
    for b in range(8)
)


@register(
    "multimodal_features",
    f"""
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
           CAST(length(text) AS INT) AS n_bytes,
           concat_ws(',', {_FEATURE_BIN_SQL}) AS feature_sig
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full mapInPandas decode INCLUDING the byte-histogram feature,
    rendered as a sortable string signature (the driver's canonicalizer
    cannot sort raw array<float> columns). Each float32 feature value is
    widened to double and rendered as floor(x * 1e6) on both sides --
    exact, engine-independent integer rendering; the raw-array variant
    stays under pytest (tests/test_pipeline_ops.py)."""
    from .functions.multimodal import decode_media, synth_media_df

    decoded = decode_media(synth_media_df(load_table(spark, sf_dir, "documents")))
    return decoded.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.array_join(
            F.transform(
                "feature",
                lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("string"),
            ),
            ",",
        ).alias("feature_sig"),
    )


@register(
    "sat_current_view",
    f"""
    WITH sat AS (
        SELECT sha256(CAST(c_custkey AS VARCHAR)) AS hub_customer_hk,
               CASE WHEN c_custkey % 10 = 0 THEN '2024-06-05' ELSE '{LOAD_TS_STR}' END
                   AS load_ts,
               CASE WHEN c_custkey % 10 = 0 THEN 'v2' ELSE 'v1' END AS version_tag,
               c_mktsegment
        FROM customer
        UNION ALL
        SELECT sha256(CAST(c_custkey AS VARCHAR)), '{LOAD_TS_STR}', 'v1', c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0)
    SELECT hub_customer_hk, load_ts, version_tag, c_mktsegment
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY hub_customer_hk
                                       ORDER BY load_ts DESC, version_tag DESC) AS rn
          FROM sat)
    WHERE rn = 1
    """,
)
def sat_current_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV read-side: current-state satellite view (latest row per hub
    key by load_ts) -- the standard consumption pattern over hash-diff
    history, as a row_number window. Fixture simulates a second load
    that updated every 10th customer."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    hk = F.sha2(F.col("c_custkey").cast("string"), 256).alias("hub_customer_hk")
    v1 = c.select(
        hk, F.lit(LOAD_TS_STR).alias("load_ts"), F.lit("v1").alias("version_tag"),
        "c_mktsegment",
    )
    v2 = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            hk, F.lit("2024-06-05").alias("load_ts"), F.lit("v2").alias("version_tag"),
            "c_mktsegment",
        )
    )
    hist = v1.unionByName(v2)
    w = Window.partitionBy("hub_customer_hk").orderBy(
        F.col("load_ts").desc(), F.col("version_tag").desc()
    )
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "dv_round_trip_customer",
    """
    SELECT sha256(CAST(c_custkey AS VARCHAR)) AS hub_customer_hk,
           CAST(c_custkey AS VARCHAR) AS c_custkey_bk,
           c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def dv_round_trip_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DV round trip: build + load the full vault for
    customer in a temp warehouse, then reconstruct the source shape via
    the business view. Oracle = the source table itself -- the
    strongest single statement that hub/satellite load + current-view
    semantics are lossless."""
    import tempfile

    from .build.builder import load_business_key
    from .build.ddl import hub_schema, satellite_schemas
    from .build.views import business_view
    from .warehouse import Warehouse

    bk = customer_business_key()
    wh = Warehouse(spark, _scratch_dir("autodw_rt_"))
    wh.create_table("dw.hub_customer", hub_schema(bk))
    for name, schema in satellite_schemas(bk).items():
        wh.create_table(f"dw.{name}", schema)
    src = load_table(spark, sf_dir, "customer")
    load_business_key(wh, src, bk, load_ts=LOAD_TS)
    return business_view(wh, bk)


# ---------------------------------------------------------------------------
# As-of joins / point-in-time tables (functions/asof.py): the DV 2.0
# query accelerator over the vault the reference automates. Spark has
# no native as-of operator; ours is the one-shuffle union+carry-forward
# plan; the oracle is DuckDB's native ASOF JOIN -- two independent
# implementations of the same semantics.
# ---------------------------------------------------------------------------


@register(
    "events_asof_last_purchase",
    """
    WITH p AS (
        SELECT user_id, ts, MAX(event_id) AS purchase_event_id,
               arg_max(value, event_id) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
    c AS (
        SELECT event_id AS click_event_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click')
    SELECT c.click_event_id, c.user_id, c.click_ts,
           p.ts AS purchase_ts, p.purchase_event_id,
           p.purchase_value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.click_ts >= p.ts
    """,
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click event joined as-of to the same user's latest
    purchase at or before it (clicks before any purchase keep NULLs).
    The attribution-style query every event warehouse runs; purchases
    are pre-deduplicated per (user, instant) so 'latest' is
    deterministic."""
    from .functions.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max(F.struct("event_id", "value")).alias("s"))
        .select(
            "user_id",
            "purchase_ts",
            F.col("s.event_id").alias("purchase_event_id"),
            F.col("s.value").alias("purchase_value"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="purchase_ts",
        payload=["purchase_event_id", "purchase_value"],
        suffix="",
    )
    return out.select(
        "click_event_id",
        "user_id",
        "click_ts",
        "purchase_ts",
        "purchase_event_id",
        "purchase_value",
    )


@register(
    "pit_user_daily",
    """
    WITH v AS (
        SELECT user_id, ts AS load_ts, MAX(event_id) AS event_id,
               arg_max(value, event_id) AS value
        FROM events GROUP BY user_id, ts),
    probes AS (
        SELECT u.user_id, s.snapshot_ts
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN (VALUES (TIMESTAMP '2024-01-01 00:00:00'),
                           (TIMESTAMP '2024-01-08 00:00:00'),
                           (TIMESTAMP '2024-01-15 00:00:00'),
                           (TIMESTAMP '2024-01-22 00:00:00'),
                           (TIMESTAMP '2024-02-01 00:00:00')) AS s(snapshot_ts))
    SELECT p.user_id, p.snapshot_ts, v.load_ts, v.event_id, v.value
    FROM probes p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.snapshot_ts >= v.load_ts
    """,
)
def pit_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time table over the per-user event stream (satellite
    stand-in): for each (user, weekly snapshot) the latest version at
    or before the snapshot; the 2024-01-01 snapshot predates every
    event, pinning the NULL 'not yet loaded' PIT rows."""
    import datetime as _dt

    from .functions.asof import pit_snapshot

    ev = load_table(spark, sf_dir, "events")
    versions = (
        ev.groupBy("user_id", F.col("ts").alias("load_ts"))
        .agg(F.max(F.struct("event_id", "value")).alias("s"))
        .select(
            "user_id",
            "load_ts",
            F.col("s.event_id").alias("event_id"),
            F.col("s.value").alias("value"),
        )
    )
    snaps = [
        _dt.datetime(2024, 1, 1),
        _dt.datetime(2024, 1, 8),
        _dt.datetime(2024, 1, 15),
        _dt.datetime(2024, 1, 22),
        _dt.datetime(2024, 2, 1),
    ]
    return pit_snapshot(
        versions, snaps, on=["user_id"], ts_col="load_ts",
        payload=["event_id", "value"],
    )


# ---------------------------------------------------------------------------
# Binned range join (functions/rangejoin.py): interval join with NO
# equi key -- the shape Catalyst would plan as a BroadcastNestedLoop.
# Ours shuffles both sides on a time-bucket key; the oracle is DuckDB's
# native IEJoin over the same inequality -- independent implementations.
# ---------------------------------------------------------------------------


@register(
    "events_range_click_attribution",
    """
    WITH p AS (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT ts AS click_ts, value AS click_value FROM events
               WHERE event_type = 'click')
    SELECT p.event_id, p.ts, p.user_id,
           COUNT(c.click_ts) AS n_clicks,
           CAST(CAST(COALESCE(SUM(CAST(c.click_value AS DECIMAL(14,6))),
                              0) AS VARCHAR) AS DOUBLE) AS click_value_sum
    FROM p LEFT JOIN c
      ON c.click_ts BETWEEN p.ts - INTERVAL 600 SECOND AND p.ts
    GROUP BY p.event_id, p.ts, p.user_id
    """,
)
def events_range_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase: how many clicks (any user -- cross-traffic
    attribution) landed in the 10 minutes up to it, and their value
    sum. No equi key, so this exercises the pure-inequality path the
    binned plan exists for; purchases with no nearby click keep 0."""
    from .functions.rangejoin import range_join_agg

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    return range_join_agg(
        purchases,
        clicks,
        left_ts="ts",
        right_ts="click_ts",
        lower_s=-600,
        upper_s=0,
        aggs=[
            F.count("click_ts").alias("n_clicks"),
            # exact decimal sum (order-free; 1-ulp drift at sf0.1, r11)
            F.coalesce(
                F.sum(F.col("click_value").cast("decimal(14,6)")),
                F.lit(0).cast("decimal(24,6)"),
            )
            .cast("double")
            .alias("click_value_sum"),
        ],
    )


@register(
    "events_range_same_user_attribution",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts FROM events
               WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, COUNT(c.click_ts) AS n_clicks
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.click_ts BETWEEN p.ts - INTERVAL 3600 SECOND AND p.ts
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def events_range_same_user_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed range join: same-user clicks in the hour before each
    purchase. The shuffle key is (user_id, bin) -- equi keys tighten
    candidates AND spread hot time buckets across users."""
    from .functions.rangejoin import range_join_agg

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return range_join_agg(
        purchases,
        clicks,
        left_ts="ts",
        right_ts="click_ts",
        lower_s=-3600,
        upper_s=0,
        on=["user_id"],
        aggs=[F.count("click_ts").alias("n_clicks")],
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (functions/sampling.py): the keep
# decision is pure integer arithmetic on the row key, so the DuckDB
# oracle reproduces the selection bit-for-bit -- the reproducibility
# property the operator exists for.
# ---------------------------------------------------------------------------


@register(
    "documents_stratified_sample",
    """
    -- thresholds = int(rate * 1000003): en 0.25, zh 0.8, default 0.5
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE (doc_id * 2654435761) % 1000003 <
          (CASE lang WHEN 'en' THEN 250000 WHEN 'zh' THEN 800002
                     ELSE 500001 END)
    """,
)
def documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: downsample English to 25%, keep 80% of
    Chinese, 50% of everything else -- deterministic multiplicative-
    hash ranks, zero shuffles (a pure pushed filter)."""
    from .functions.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return stratified_sample(
        docs,
        key_col="doc_id",
        rates={"en": 0.25, "zh": 0.8},
        strata_col="lang",
        default_rate=0.5,
    )


@register(
    "documents_sample_fixed_n",
    """
    WITH r AS (
        SELECT doc_id, lang, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * 2654435761) % 1000003, doc_id
               ) AS rn
        FROM documents)
    SELECT doc_id, lang, source, n_chars FROM r WHERE rn <= 20
    """,
)
def documents_sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language (deterministic n-smallest-rank
    selection) -- the eval-set carve-out shape."""
    from .functions.sampling import stratified_fixed_n

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return stratified_fixed_n(docs, key_col="doc_id", n=20, strata_col="lang")


# ---------------------------------------------------------------------------
# Skew-safe exact aggregation (functions/skew.py): salting is a
# physical rewrite, so the oracle is the PLAIN GROUP BY -- exactness
# under the rewrite is the property being verified.
# ---------------------------------------------------------------------------


@register(
    "documents_mixture_sample",
    """
    -- per-language target counts (dataset mixture): en 30, zh 60,
    -- de 40, fr/es unlisted -> 0
    WITH r AS (
        SELECT doc_id, lang, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * 2654435761) % 1000003, doc_id
               ) AS rn
        FROM documents)
    SELECT doc_id, lang, source, n_chars FROM r
    WHERE rn <= (CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 60
                           WHEN 'de' THEN 40 ELSE 0 END)
    """,
)
def documents_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture carve-out: per-language TARGET COUNTS (rebalance
    toward zh/de, drop fr/es) selected deterministically -- the
    training-mixture knob, reproducible at any scale/partitioning."""
    from .functions.sampling import stratified_fixed_n

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return stratified_fixed_n(
        docs,
        key_col="doc_id",
        n={"en": 30, "zh": 60, "de": 40},
        strata_col="lang",
    )


@register(
    "events_salted_type_stats",
    """
    SELECT event_type,
           COUNT(value) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(14,6))) AS VARCHAR) AS DOUBLE)
             AS value_sum,
           MIN(value) AS value_min,
           MAX(value) AS value_max,
           CAST(CAST(SUM(CAST(value AS DECIMAL(14,6))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) AS value_avg
    FROM events
    GROUP BY event_type
    """,
)
def events_salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats through the salted two-phase plan: 5
    groups x 10k+ rows is exactly the low-cardinality shape where the
    final shuffle funnels everything into 5 tasks -- the salt spreads
    phase 1 over 32x more reducers, and the merge is exact."""
    from .functions.skew import salted_agg

    # SUM rides an exact DECIMAL (per-row cast parity verified; raw
    # double summation is ORDER-dependent and diverged 1 ulp from the
    # oracle at sf0.1 -- r11 find); min/max/count are order-free and
    # stay on the raw double
    ev = load_table(spark, sf_dir, "events")
    res = salted_agg(
        ev.select(
            "event_type",
            "value",
            F.col("value").cast("decimal(14,6)").alias("value_dec"),
        ),
        keys=["event_type"],
        metrics=[
            ("count", "value", "n_events"),
            ("sum", "value_dec", "value_sum"),
            ("min", "value", "value_min"),
            ("max", "value", "value_max"),
        ],
        n_salts=32,
    )
    return res.select(
        "event_type",
        "n_events",
        F.col("value_sum").cast("double").alias("value_sum"),
        "value_min",
        "value_max",
        (F.col("value_sum").cast("double") / F.col("n_events")).alias(
            "value_avg"
        ),
    )


@register(
    "events_distinct_users_by_type",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def events_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct users via the two-phase dedup plan (the
    wide shuffle runs on (type, user), not type)."""
    from .functions.skew import distinct_count_skewsafe

    ev = load_table(spark, sf_dir, "events")
    return distinct_count_skewsafe(
        ev, keys=["event_type"], col="user_id", alias="n_users"
    )


@register(
    "events_heavy_hitter_users",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
         t AS (SELECT COUNT(*) AS total FROM events)
    SELECT c.user_id, c.cnt, c.cnt / (1.0 * t.total) AS share
    FROM c, t WHERE c.cnt >= 0.0072 * t.total
    """,
)
def events_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent items: users generating >= 0.72% of all events.
    Output is bounded at 1/min_share rows regardless of input size, so
    the result is always broadcastable to downstream joins."""
    from .functions.skew import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", min_share=0.0072)


@register(
    "events_customer_salted_join",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(14,6))) AS VARCHAR) AS DOUBLE)
             AS value_sum
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def events_customer_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side-skewed join through the salted (replicated-dim) plan:
    150 distinct users over 10k+ events is the hot-key shape; the salt
    spreads each user over 16 reducers and the plain-SQL oracle proves
    the rewrite exact (unmatched fact rows survive once, NULL-grouped)."""
    from .functions.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        salted_join(ev, cust, on=["user_id"], n_salts=16, how="left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal sum: raw double summation is order-dependent
            # and drifted 1 ulp from the oracle at sf0.1 (r11 find)
            F.sum(F.col("value").cast("decimal(14,6)"))
            .cast("double")
            .alias("value_sum"),
        )
    )


@register(
    "events_type_pivot",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per-user event counts, one column per
    type. Explicit pivot values keep the plan a single-pass pivoted
    hash aggregate -- no second distinct-values job, and stable output
    schema at any SF (the requirement for 100 TB: never let pivot
    infer columns from a full scan)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


# (events_cube_type_day retired r7: the Catalyst Expand grouping-set
# pass stays driver-covered by events_rollup_hierarchy, the wide-shape
# variant by events_type_pivot.)


@register(
    "events_interarrival_stats",
    """
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events)
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           SUM(gap_us) / COUNT(gap_us) AS avg_gap_us,
           MAX(gap_us) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps via LAG over (user, ts, event_id)
    -- exact integer microseconds so the window arithmetic is
    engine-portable; one shuffle on user_id shared by the window and
    the aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    )
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        (F.sum("gap_us") / F.count("gap_us")).alias("avg_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@register(
    "part_fuzzy_name_pairs",
    """
    WITH p AS (SELECT p_partkey, p_name, p_brand,
                      split_part(p_name, ' ', 2) AS noun FROM part)
    SELECT a.noun, a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS distance
    FROM p a JOIN p b ON a.noun = b.noun AND a.p_brand = b.p_brand
                     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def part_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: near-identical part names within a
    (noun, brand) block, edit distance <= 3 -- the blocked
    never-all-pairs fuzzy join."""
    from .functions.match import blocked_levenshtein_pairs

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.split("p_name", " ").getItem(1).alias("noun"),
    )
    return blocked_levenshtein_pairs(
        part,
        id_col="p_partkey",
        text_col="p_name",
        block_cols=["noun", "p_brand"],
        max_distance=3,
    ).withColumn("distance", F.col("distance").cast("bigint"))  # width-match
    # the oracle's BIGINT (dtype_audit zero-warning discipline)


@register(
    "documents_keyword_tfidf",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w
                WHERE term IN ('spark', 'merge', 'window')
                GROUP BY doc_id, term),
         dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM w
                   WHERE term IN ('spark', 'merge', 'window')
                   GROUP BY term),
         n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT tf.doc_id, SUM(tf.tf * n.n / dfreq.df) AS score
    FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    GROUP BY tf.doc_id
    """,
)
def documents_keyword_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword relevance over the corpus: tf * N/df summed over the
    query terms (log-free idf keeps the arithmetic engine-exact)."""
    from .functions.match import keyword_tfidf_scores

    docs = load_table(spark, sf_dir, "documents")
    return keyword_tfidf_scores(docs, ["spark", "merge", "window"])


# (events_value_median_by_type retired r7: the sketch bounds-check row
# now computes exact per-type quantiles inside its verifier, and the
# winsorized-stats row keeps the exact-percentile shape driver-covered.)


@register(
    "events_value_winsorized_stats",
    """
    WITH b AS (SELECT event_type,
                      quantile_cont(value, 0.05) AS p05,
                      quantile_cont(value, 0.95) AS p95
               FROM events GROUP BY event_type)
    SELECT e.event_type, b.p05, b.p95,
           SUM(LEAST(GREATEST(e.value, b.p05), b.p95))
               / COUNT(e.value) AS winsorized_mean
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.p05, b.p95
    """,
)
def events_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (winsorized) mean: clip at the exact interpolated
    p05/p95 per group, then average -- outlier-resistant feature
    stats. Percentile bounds broadcast back onto the fact side; exact
    percentile needs the per-group sort, so at 100 TB swap in the
    percentile_approx sketch bounds (same clip step)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            (
                F.sum(F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")))
                / F.count("value")
            ).alias("winsorized_mean")
        )
    )


@register(
    "events_click_purchase_funnel",
    """
    WITH f AS (SELECT user_id,
                      MIN(ts) FILTER (WHERE event_type = 'click') AS first_click
               FROM events GROUP BY user_id),
         p AS (SELECT e.user_id, MIN(e.ts) AS first_purchase_after
               FROM events e JOIN f ON e.user_id = f.user_id
               WHERE e.event_type = 'purchase' AND e.ts > f.first_click
               GROUP BY e.user_id)
    SELECT f.user_id, f.first_click, p.first_purchase_after,
           (p.first_purchase_after IS NOT NULL) AS converted
    FROM f LEFT JOIN p ON f.user_id = p.user_id
    """,
)
def events_click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: per user, first click and first purchase
    strictly after it. Conditional MIN + one broadcast-joined second
    pass -- the standard two-stage funnel shape (stage N+1 needs stage
    N's anchor)."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        )
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_after"))
    )
    return f.join(p, "user_id", "left").select(
        "user_id",
        "first_click",
        "first_purchase_after",
        F.col("first_purchase_after").isNotNull().alias("converted"),
    )


@register(
    "dedup_ngram_containment",
    """
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct([substr(norm, i, 3)
                   for i in range(1, greatest(length(norm) - 2, 1) + 1)]) AS sh
        FROM (SELECT doc_id, lang,
                     regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
              FROM documents))
    SELECT id_a, id_b, containment_ab, containment_ba FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
                   AS containment_ab,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh)
                   AS containment_ba
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
    WHERE containment_ab >= 0.5 OR containment_ba >= 0.5
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup verifier: shingle containment catches a doc
    embedded in a larger one where union-normalized Jaccard stays low
    (concatenated corpora / quote farms)."""
    from .functions.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"),
        blocking_col="lang",
        shingle_k=3,
        threshold=0.5,
    )


_ANN_FILTERED_ORACLE = f"""
WITH q AS (
    SELECT vec_id, label, {_QVEC_SQL} AS qvec FROM embeddings),
n AS (
    SELECT vec_id, label, qvec,
           CAST(list_sum([qvec[i] * qvec[i] for i in range(1, 65)]) AS BIGINT) AS qnorm
    FROM q),
sims AS (
    SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
           CAST({_DOT_SQL} AS DOUBLE) /
               (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) AS cosine
    FROM n qa JOIN n qb ON qa.vec_id <> qb.vec_id
    WHERE qa.vec_id < 10 AND qb.label = 3),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM sims)
SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
"""


@register("ann_cosine_topk_filtered", _ANN_FILTERED_ORACLE)
def ann_cosine_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: exact top-5 among neighbors
    with label = 3 only (the filter restricts candidates, not
    queries) -- the filtered-ANN shape every retrieval stack needs."""
    from .functions.similarity import brute_force_topk

    return brute_force_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        neighbor_filter=F.col("label") == 3,
    )


@register(
    "documents_chunked_windows",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         c AS (SELECT doc_id, w,
                      unnest(generate_series(0,
                          greatest(1, CAST(ceil((len(w) - 40) / 20.0) AS BIGINT)
                                      + 1) - 1)) AS chunk_id
               FROM w)
    SELECT doc_id, chunk_id,
           array_to_string(list_slice(w, chunk_id * 20 + 1,
                                      chunk_id * 20 + 40), ' ') AS chunk_text,
           len(list_slice(w, chunk_id * 20 + 1, chunk_id * 20 + 40)) AS n_words
    FROM c
    """,
)
def documents_chunked_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 40-word windows advancing by 20
    (50% overlap), every word covered, short final window kept."""
    from .functions.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_words=40, stride=20).withColumn(
        "n_words", F.col("n_words").cast("bigint")  # width-match the oracle
    )


_SKETCH_BOUNDS_ORACLE = """
SELECT t.event_type, CAST(p.p AS DOUBLE) AS p,
       TRUE AS within_bounds, TRUE AS users_within_3rsd
FROM (SELECT DISTINCT event_type FROM events) t
CROSS JOIN (VALUES (0.1), (0.5), (0.9), (0.99)) AS p(p)
"""


@register("events_value_quantile_sketch", _SKETCH_BOUNDS_ORACLE)
def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-type value quantiles (GK summary) + HLL user
    cardinality, verified against their published error bounds (r6
    VERDICT directive 2 -- the bounds-check oracle): DuckDB cannot
    reproduce Spark's sketch VALUES, but it can state the CONTRACT --
    every (event_type, p) row must be within bounds -- and hash-match
    proves Spark's sketches honor it.

    The Spark side computes, in one query, (a) the sketches and (b) the
    EXACT rank window each sketch value must fall in: percentile_approx
    with accuracy A guarantees the returned sample's exact rank r(x)
    satisfies floor((p - 1/A) * N) <= r(x) <= ceil((p + 1/A) * N)
    (Greenwald-Khanna bound; an element's rank is any position in
    [count(<x)+1, count(<=x)]), and approx_count_distinct(rsd=0.02) is
    checked against the exact distinct count at 3 standard deviations.
    The exact sides (rank counts, exact distinct) live ONLY in this
    verifier -- production callers use functions/sketch.py, which never
    pays them; error-bound pytest coverage stays in test_skew_sketch.py.

    Shape contract (r5 VERDICT directive 1): scalar rows only --
    (event_type, p, within_bounds, users_within_3rsd)."""
    from .functions.sketch import approx_distinct, approx_quantiles

    probs = [0.1, 0.5, 0.9, 0.99]
    accuracy = 10000
    rsd = 0.02
    ev = load_table(spark, sf_dir, "events")
    q = approx_quantiles(ev, ["event_type"], "value", probs, accuracy=accuracy)
    d = approx_distinct(ev, ["event_type"], "user_id", rsd=rsd)
    probs_col = F.array(*[F.lit(p) for p in probs])
    # types x probs rows, BOUNDED by construction: collect the sketch
    # values to the driver and re-emit them as a literal frame. This is
    # the strongest form of the r7 "both consumers must describe the
    # SAME sketch values" pin (the values are frozen bytes, not a
    # re-evaluable plan) and it deletes the localCheckpoint
    # materialization jobs the r7 VERDICT flagged in the +87% bench
    # regression -- the verifier below is the row's only events pass.
    sk_rows = (
        q.join(d, "event_type")
        .select(
            "event_type",
            F.explode(
                F.arrays_zip(probs_col.alias("p"), F.col("quantiles").alias("q"))
            ).alias("z"),
            F.col("approx_n_distinct").alias("approx_users"),
        )
        .select(
            "event_type",
            F.col("z.p").alias("p"),
            F.col("z.q").alias("q_value"),
            "approx_users",
        )
        .collect()
    )
    # Exact verifier, ONE events pass with NO row fan-out (r7 VERDICT
    # directive 4, reshaped after measurement: the first fold
    # broadcast-joined the sketch frame, multiplying every event row by
    # len(probs) before a count_distinct -- measured SLOWER than the
    # two-pass original at sf0.1. The sketch values are a bounded
    # driver-side list, so they fold into LITERAL map expressions
    # instead: each event row looks up its type's 4 quantiles in a
    # constant map (codegen'd, no join, no fan-out), one groupBy(type)
    # computes all 8 rank counts + total + exact distinct users over
    # the 1x row stream, and a 20-row explode rebuilds the
    # (type, p) grid afterwards.)
    by_type: dict = {}
    for r in sk_rows:
        by_type.setdefault(r["event_type"], {})[r["p"]] = (
            r["q_value"],
            r["approx_users"],
        )
    q_map = F.create_map(
        *[
            x
            for et in sorted(by_type)
            for x in (
                F.lit(et),
                F.array(*[F.lit(float(by_type[et][p][0])) for p in probs]),
            )
        ]
    )
    au_map = F.create_map(
        *[
            x
            for et in sorted(by_type)
            for x in (F.lit(et), F.lit(int(by_type[et][probs[0]][1])))
        ]
    )
    qv = F.element_at(q_map, F.col("event_type"))
    per = (
        ev.withColumn("__qv", qv)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("exact_users"),
            *[
                F.sum(
                    (F.col("value") < F.col("__qv")[i]).cast("long")
                ).alias(f"lt{i}")
                for i in range(len(probs))
            ],
            *[
                F.sum(
                    (F.col("value") <= F.col("__qv")[i]).cast("long")
                ).alias(f"le{i}")
                for i in range(len(probs))
            ],
        )
        .select(
            "event_type",
            "n",
            "exact_users",
            F.element_at(au_map, F.col("event_type")).alias("approx_users"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(p).alias("p"),
                            F.col(f"lt{i}").alias("cnt_lt"),
                            F.col(f"le{i}").alias("cnt_le"),
                        )
                        for i, p in enumerate(probs)
                    ]
                )
            ).alias("z"),
        )
    )
    eps = 1.0 / accuracy
    lo = F.floor((F.col("z.p") - eps) * F.col("n"))
    hi = F.ceil((F.col("z.p") + eps) * F.col("n"))
    return per.select(
        "event_type",
        F.col("z.p").alias("p"),
        # rank interval [cnt_lt+1, cnt_le] intersects the GK window
        (
            (F.col("z.cnt_lt") + 1 <= hi)
            & (F.col("z.cnt_le") >= F.greatest(lo, F.lit(1)))
        ).alias("within_bounds"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 3 * rsd * F.col("exact_users")
        ).alias("users_within_3rsd"),
    )


# ---------------------------------------------------------------------------
# Generic warehouse mutation verbs (build/merge.py): Type-1 upsert and
# targeted GDPR-shape deletion -- the un-versioned MERGE/DELETE twins of
# scd2_partitioned_merge, same partition-pruned CoW write path.
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
WITH cust AS (
    SELECT CAST(c_custkey AS BIGINT) AS k, c_name, c_acctbal, c_mktsegment,
           CAST(c_custkey % 8 AS BIGINT) AS b
    FROM customer),
batch AS (
    SELECT k, c_name, c_acctbal + 50 AS c_acctbal, c_mktsegment, b
    FROM cust WHERE b IN (2, 6) AND k % 3 = 0
    UNION ALL
    SELECT k + 16000000 AS k, c_name, c_acctbal, c_mktsegment, b
    FROM cust WHERE b IN (2, 6) AND k % 3 = 1)
SELECT c.k AS c_custkey, c.b AS key_bucket, c.c_name, c.c_acctbal, c.c_mktsegment
FROM cust c WHERE c.k NOT IN (SELECT k FROM batch)
UNION ALL
SELECT k AS c_custkey, b AS key_bucket, c_name, c_acctbal, c_mktsegment FROM batch
"""


def _cust_dim8(spark: SparkSession, sf_dir: str, prefix: str):
    """The shared initial state for the MERGE/DELETE verb queries: the
    customer dimension bucketed on key%8, template-built once per
    session and hardlink-cloned per call (_template_scratch)."""
    from .warehouse import Warehouse

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        "c_acctbal",
        "c_mktsegment",
        F.pmod(F.col("c_custkey").cast("long"), F.lit(8)).cast("long").alias("key_bucket"),
    )

    def build(d: str) -> None:
        wh = Warehouse(spark, d)
        wh.create_table("dim.cust", cust.schema, partition_by=["key_bucket"])
        wh.append("dim.cust", cust)

    root = _template_scratch(
        (spark.sparkContext.applicationId, sf_dir, "cust_dim8"), prefix, build
    )
    return cust, Warehouse(spark, root)


@register("dim_upsert_customer", _UPSERT_ORACLE)
def dim_upsert_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-1 MERGE (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) into
    a key-bucket-partitioned customer dimension: a batch touching 2 of
    8 buckets updates every key%3==0 and inserts shifted new keys; the
    write rewrites ONLY the touched partitions (build/merge.py
    merge_upsert). Oracle recomputes the merged state set-wise. The
    pre-existing dimension comes from the session template
    (_template_scratch); the timed operator is the MERGE."""
    from .build.merge import merge_upsert

    cust, wh = _cust_dim8(spark, sf_dir, "autodw_upsert_")
    base = cust.filter(F.col("key_bucket").isin(2, 6))
    updates = base.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 50
    )
    inserts = base.filter(F.col("c_custkey") % 3 == 1).withColumn(
        "c_custkey", F.col("c_custkey") + 16_000_000  # 16M % 8 == 0: bucket-stable
    )
    merge_upsert(wh, "dim.cust", updates.unionByName(inserts), key_cols=["c_custkey"])
    return wh.read("dim.cust").select(
        "c_custkey",
        F.col("key_bucket").cast("long").alias("key_bucket"),
        "c_name",
        "c_acctbal",
        "c_mktsegment",
    )


_GDPR_DELETE_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(c_custkey % 8 AS BIGINT) AS key_bucket,
       c_name, c_acctbal, c_mktsegment
FROM customer
WHERE c_custkey % 131 <> 7
"""


@register("gdpr_delete_customer", _GDPR_DELETE_ORACLE)
def gdpr_delete_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten deletion: a request-sized victim key set is
    erased from a partitioned customer dimension by rewriting ONLY the
    files whose parquet footer key range can contain a victim
    (build/merge.py delete_keys); clean files hardlink through
    byte-identical. Oracle is the complementary filter. The
    pre-existing dimension comes from the session template
    (_template_scratch); the timed operator is the DELETE."""
    from .build.merge import delete_keys

    cust, wh = _cust_dim8(spark, sf_dir, "autodw_gdpr_")
    victims = cust.filter(F.col("c_custkey") % 131 == 7).select("c_custkey")
    delete_keys(wh, "dim.cust", victims, "c_custkey", bucket_of=lambda k: k % 8)
    return wh.read("dim.cust").select(
        "c_custkey",
        F.col("key_bucket").cast("long").alias("key_bucket"),
        "c_name",
        "c_acctbal",
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# Classic analytical shape coverage, batch 2 (EXISTS semi, LEFT JOIN
# distribution, HAVING on agg, scalar-subquery + anti join, rolling
# ROWS-BETWEEN window) -- the remaining TPC-H query silhouettes a
# reference user would expect an analytics engine to run.
# ---------------------------------------------------------------------------


@register(
    "q4_late_shipment_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 silhouette (EXISTS -> left-semi join): orders with at
    least one line shipped >30 days after order date, counted per
    priority. Semi join shuffles once on the uniform orderkey; the
    aggregate is 5 groups (map-side partials)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q13_order_count_distribution",
    """
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 silhouette: LEFT JOIN preserving order-less customers,
    then the distribution of per-customer order counts. Two shuffles
    (custkey join+agg, then the tiny distribution agg)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q18_large_volume_orders",
    """
    WITH big AS (
        SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate_day,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 silhouette (HAVING over an aggregate, then join back):
    orders whose total quantity exceeds 150, with their customer.
    The HAVING output shrinks with the threshold but still grows
    linearly with SF, so it carries NO forced broadcast hint: AQE
    broadcasts it while it fits and falls back to a shuffle join at
    scale (the repo-wide no-forced-broadcast-on-scaling-tables rule,
    test_plan_shapes.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("dq"))
        .filter(F.col("dq") > 150)
        .select("l_orderkey", F.col("dq").cast("double").alias("sum_qty"))
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate_day"),
            "o_totalprice",
            "sum_qty",
        )
    )


@register(
    "q22_inactive_rich_customers",
    """
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 silhouette: scalar-subquery threshold (global avg of
    positive balances) + NOT EXISTS anti join (no order since 2000),
    grouped per nation. The scalar aggregates map-side to one row and
    broadcasts into the filter; the anti join shuffles on custkey with
    the date filter pushed to the orders scan."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("t"))
    # no explicit broadcast hint: the 1-row aggregate side is below
    # every autoBroadcastJoinThreshold, and the repo-wide plan guard
    # (test_plan_shapes.py) flags hints whose subtree contains a
    # scaling relation -- AQE picks the broadcast on size alone
    rich = c.join(avg_bal).filter(F.col("c_acctbal") > F.col("t"))
    inactive = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias("totacctbal"),
    )


@register(
    "orders_rolling_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate_day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS rolling_3_revenue,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS order_seq
    FROM orders
    """,
)
def orders_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ROWS-BETWEEN window: per customer, revenue of the last 3
    orders (frame, not unbounded) plus the order sequence number --
    the moving-aggregate window shape. One shuffle on o_custkey serves
    both window functions (same partitioning + ordering)."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate_day"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w.rowsBetween(-2, 0))
        .cast("double")
        .alias("rolling_3_revenue"),
        F.row_number().over(w).cast("bigint").alias("order_seq"),  # width-match
    )


_SCHEMA_EVO_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(NULL AS DOUBLE) AS c_acctbal
FROM customer WHERE c_custkey % 2 = 0
UNION ALL
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal
FROM customer WHERE c_custkey % 2 = 1
"""


@register("schema_evolution_customer", _SCHEMA_EVO_ORACLE)
def schema_evolution_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-rewrite ADD COLUMN: rows loaded before the evolution read
    back with NULL in the new column, rows after carry values --
    pre-evolution files untouched (warehouse.py evolve_schema; the
    Delta mergeSchema / ALTER TABLE ADD COLUMN analog)."""
    from pyspark.sql import types as T

    from .warehouse import Warehouse

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_name", "c_acctbal"
    )
    wh = Warehouse(spark, _scratch_dir("autodw_evo_"))
    v1 = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
        ]
    )
    wh.create_table("dim.cust", v1)
    wh.append("dim.cust", cust.filter(F.col("c_custkey") % 2 == 0).drop("c_acctbal"))
    v2 = wh.evolve_schema("dim.cust", add=[T.StructField("c_acctbal", T.DoubleType())])
    wh.append("dim.cust", cust.filter(F.col("c_custkey") % 2 == 1).select(
        *[f.name for f in v2.fields]
    ))
    return wh.read("dim.cust")


_TIME_TRAVEL_ORACLE = """
SELECT 'v1' AS version_tag, CAST(c_custkey AS BIGINT) AS c_custkey, c_acctbal
FROM customer
UNION ALL
SELECT 'v2' AS version_tag, CAST(c_custkey AS BIGINT) AS c_custkey,
       CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
FROM customer
"""


@register("time_travel_versions", _TIME_TRAVEL_ORACLE)
def time_travel_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reads across the commit log (VERSION AS OF analog):
    overwrite a table twice under retain_generations=3, then read BOTH
    versions back -- the superseded snapshot must still be exactly the
    pre-overwrite state (warehouse.py history/read_version). Oracle
    recomputes both states from the source."""
    from pyspark.sql import types as T

    from .warehouse import Warehouse

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_acctbal"
    )
    wh = Warehouse(spark, _scratch_dir("autodw_tt_"), retain_generations=3)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    wh.create_table("dim.bal", schema)
    wh.overwrite("dim.bal", cust)
    wh.overwrite(
        "dim.bal",
        cust.withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100).otherwise(
                F.col("c_acctbal")
            ),
        ),
    )
    versions = [h["version"] for h in wh.history("dim.bal") if h["action"] != "base"]
    old = wh.read_version("dim.bal", versions[-2]).select(
        F.lit("v1").alias("version_tag"), "c_custkey", "c_acctbal"
    )
    new = wh.read_version("dim.bal", versions[-1]).select(
        F.lit("v2").alias("version_tag"), "c_custkey", "c_acctbal"
    )
    return old.unionByName(new)


@register(
    "lineitem_stats_by_flag",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS qty_stddev,
           ROUND(VAR_SAMP(l_discount), 6) AS disc_var,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 6) AS qty_price_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def lineitem_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate shapes (stddev/variance/correlation/
    covariance) per return flag -- single-pass moment aggregation,
    map-side partials, 3 output groups. Rounded to 6 decimals on both
    engines: moment merges are FP-order-dependent at the 1e-12 level,
    far below the comparison precision."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("qty_price_covar"),
    )


@register(
    "documents_pii_redaction",
    """
    WITH synth AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
                    || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS text
        FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g')
               AS redacted_text,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
           len(regexp_extract_all(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ips
    FROM synth
    """,
)
def documents_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/text.py redact_pii): emails, phones and
    IPv4 literals replaced by typed placeholders with per-category
    counts. The synthetic corpus carries no natural PII, so the query
    plants a deterministic contact line per doc first -- both engines
    synthesize and redact identically (regex subset common to Java
    regex and RE2)."""
    from .functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            (F.lit(100) + F.col("doc_id") % 900).cast("string"),
            F.lit("-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    out = redact_pii(docs)
    return out.select(
        "doc_id",
        "redacted_text",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_phones").cast("long").alias("n_phones"),
        F.col("n_ips").cast("long").alias("n_ips"),
    )


@register(
    "documents_leakfree_split",
    """
    WITH g AS (
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY sha256(text)) AS group_rep
        FROM documents)
    SELECT doc_id, group_rep,
           CASE WHEN (group_rep * 2654435761) % 1000003 < 100000
                THEN 'val' ELSE 'train' END AS split
    FROM g
    """,
)
def documents_leakfree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split (functions/corpus.py
    leakage_safe_split): exact-duplicate groups always land on one
    side, assignment by the engine-portable multiplicative-hash rank
    of the group's MIN doc_id (10% validation)."""
    from .functions.corpus import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs, val_fraction=0.1).select(
        "doc_id", F.col("group_rep").cast("long").alias("group_rep"), "split"
    )


@register(
    "documents_boilerplate_removal",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (SELECT doc_id,
                 UNNEST(range(GREATEST(1, CAST(ceil(len(w) / 10.0) AS BIGINT)))) AS seg_id,
                 w
          FROM w),
    seg AS (SELECT doc_id, seg_id,
                   array_to_string(list_slice(w, seg_id * 10 + 1, seg_id * 10 + 10), ' ') AS seg
            FROM c),
    boiler AS (SELECT seg FROM seg GROUP BY seg HAVING COUNT(DISTINCT doc_id) > 1),
    kept AS (SELECT s.* FROM seg s WHERE s.seg NOT IN (SELECT seg FROM boiler)),
    clean AS (SELECT doc_id,
                     string_agg(seg, ' ' ORDER BY seg_id) AS clean_text,
                     COUNT(*) AS kept_n
              FROM kept GROUP BY doc_id),
    base AS (SELECT doc_id, GREATEST(1, CAST(ceil(len(w) / 10.0) AS BIGINT)) AS n_segments
             FROM w)
    SELECT b.doc_id,
           COALESCE(c2.clean_text, '') AS clean_text,
           b.n_segments,
           b.n_segments - COALESCE(c2.kept_n, 0) AS n_removed
    FROM base b LEFT JOIN clean c2 ON b.doc_id = c2.doc_id
    """,
)
def documents_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal (functions/corpus.py
    remove_repeated_segments): 10-word segments occurring in more than
    one document are struck from every doc; segments unique to their
    doc reassemble in order. The boilerplate set is corpus-frequent
    (small -> broadcast anti-join)."""
    from .functions.corpus import remove_repeated_segments

    docs = load_table(spark, sf_dir, "documents")
    return remove_repeated_segments(docs, seg_words=10, max_docs=1)


@register(
    "customer_balance_ranks",
    """
    SELECT c_custkey, c_mktsegment,
           DENSE_RANK()   OVER w AS bal_dense_rank,
           NTILE(4)       OVER w AS bal_quartile,
           ROUND(PERCENT_RANK() OVER w, 9) AS bal_pct_rank,
           ROUND(CUME_DIST()    OVER w, 9) AS bal_cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family (dense_rank / ntile / percent_rank /
    cume_dist) per market segment -- one shuffle on the segment key
    serves all four windows (shared partitioning + ordering);
    deterministic tiebreak on the key column."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 9).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("bal_cume_dist"),
    )


# ---- round-7 registrations (mid-order: first driver rows due r8) ----

_PACK_SEQUENCES_ORACLE = """
WITH f AS (
    SELECT doc_id,
           COALESCE(len(regexp_extract_all(text,
                        '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')), 0)
               AS n_bpe_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 256
               AS bucket
    FROM documents),
b AS (SELECT bucket, SUM(n_bpe_tokens) AS btok FROM f GROUP BY 1),
c AS (
    SELECT bucket,
           COALESCE(SUM(btok) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bucket_offset
    FROM b),
d AS (
    SELECT f.doc_id, f.n_bpe_tokens,
           c.bucket_offset
           + COALESCE(SUM(f.n_bpe_tokens) OVER (PARTITION BY f.bucket
                      ORDER BY f.h, f.doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS global_offset
    FROM f JOIN c USING (bucket))
SELECT doc_id,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       CAST(global_offset AS BIGINT) AS global_offset,
       CAST(global_offset // 2048 AS BIGINT) AS seq_id,
       CAST(global_offset % 2048 AS BIGINT) AS seq_offset
FROM d
"""


@register("documents_pack_sequences", _PACK_SEQUENCES_ORACLE)
def documents_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing placement map (functions/corpus.py
    pack_sequences): every doc's global token offset and first-token
    (seq_id, seq_offset) under 2048-token pack-then-chunk -- the
    batch-construction step a pretraining writer consumes. The global
    order is the bucket-coarse md5 construction shared with
    token_budget_sample: a <=256-row bucket window plus bounded
    intra-bucket windows, no unbounded sort on either engine."""
    from .functions.corpus import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"), seq_tokens=2048)


_BIGRAM_LOGPROB_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
                       '[^a-z0-9]+', ' ', 'g')), '\\s+'), x -> x <> '') AS a
    FROM documents),
bg0 AS (
    SELECT doc_id,
           unnest([ {'w1': a[i], 'w2': a[i+1]} for i in range(1, len(a)) ]) AS s
    FROM toks),
bg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg0),
mat AS (SELECT doc_id, w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, SUM(c) AS c12 FROM mat GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c) AS c1 FROM mat GROUP BY 1)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(ROUND(SUM(c * log10(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)))
                  / SUM(c) * 1000, 0) AS BIGINT) AS avg_logprob_m
FROM mat JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY doc_id
"""


@register("text_bigram_logprob", _BIGRAM_LOGPROB_ORACLE)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean conditional bigram log10-probability under the
    corpus's own bigram LM (functions/text.py bigram_logprob) -- the
    order-sensitive quality tier above text_unigram_logprob: word
    salad scores low even when its unigrams are common. Two
    map-side-combined count shuffles build the model, one scoring join
    and one rollup apply it. Hash-hardened BEFORE its first driver row
    (r7 VERDICT directive 2): already word_tokens-normalized, and the
    score is a scaled BIGINT (milli-log10) so the hashed bytes are
    integer-only -- the DECIMAL(18,6) shape failed twice on
    text_word_entropy in the driver environment."""
    from .functions.text import bigram_logprob

    return bigram_logprob(
        load_table(spark, sf_dir, "documents"), decimals=None
    ).select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("avg_logprob") * 1000, 0).cast("bigint").alias("avg_logprob_m"),
    )


_DUP_SPANS_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
                       '[^a-z0-9]+', ' ', 'g')), '\\s+'), x -> x <> '') AS a
    FROM documents),
inst AS (
    SELECT doc_id,
           unnest([ array_to_string(a[i:i+7], ' ')
                    for i in range(1, len(a) - 8 + 2) ]) AS gram
    FROM toks),
df AS (
    SELECT gram, COUNT(*) AS n_docs
    FROM (SELECT DISTINCT doc_id, gram FROM inst) GROUP BY 1)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_grams,
       CAST(ROUND(SUM(CASE WHEN n_docs >= 2 THEN 1.0 ELSE 0.0 END) / COUNT(*)
                  * 1000000, 0) AS BIGINT) AS dup_frac_ppm
FROM inst JOIN df USING (gram)
GROUP BY doc_id
"""


@register("documents_duplicated_spans", _DUP_SPANS_ORACLE)
def documents_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-corpus duplicated-span exposure (functions/
    corpus.py duplicated_span_stats): fraction of a doc's word 8-gram
    occurrences repeated in >=2 distinct docs -- the exact-substring
    duplication signal pipelines threshold on. One gram doc-frequency
    shuffle + one instance-to-frequency join (AQE skew-split on Zipf
    head grams) + one per-doc rollup. Hash-hardened BEFORE its first
    driver row (with text_bigram_logprob, r7 VERDICT directive 2):
    the fraction ships as scaled-BIGINT ppm, not the DECIMAL(18,6)
    shape that failed twice in the driver environment."""
    from .functions.corpus import duplicated_span_stats

    return duplicated_span_stats(
        load_table(spark, sf_dir, "documents"), decimals=None
    ).select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round(F.col("dup_frac") * 1000000, 0).cast("bigint").alias("dup_frac_ppm"),
    )


# ---------------------------------------------------------------------------
# PQ recall-ladder bounds row (r7 VERDICT directive 3): the driver row for
# functions/pq.py, built on the sketch-row precedent -- DuckDB cannot run
# ADC over PQ codes, but it CAN pin the mathematical contract every stage
# must honor, and hash-match proves Spark's measured ladder honors it.
# ---------------------------------------------------------------------------

_PQ_INDEX_CACHE: dict[tuple, tuple] = {}


def _pq_index(spark: SparkSession, sf_dir: str):
    """Session-cached PQ index (codebook + encoded codes + corpus
    count) for the recall-bounds row: the build-once/probe-many
    contract of functions/pq.py, same accounting as _ivf_index -- the
    deterministic one-time build (pq_train + pq_encode, both exact
    integer constructions) is charged to the session's cold pass, and
    every probe reads the identical pinned frames."""
    from .functions.pq import pq_encode, pq_train

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _PQ_INDEX_CACHE.get(key)
    if hit is not None:
        return hit
    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, ksub=16, iters=1).localCheckpoint()
    enc = pq_encode(emb, cb, m=8, ksub=16).localCheckpoint()
    hit = (cb, enc, enc.count())
    _PQ_INDEX_CACHE[key] = hit
    return hit


_PQ_RECALL_BOUNDS_ORACLE = """
SELECT CAST(vec_id AS BIGINT) AS query_id,
       CAST(5 AS BIGINT) AS n_true,
       TRUE AS rerank_ge_adc,
       TRUE AS full_matches_exact
FROM embeddings WHERE vec_id < 10
"""


@register("ann_pq_recall_bounds", _PQ_RECALL_BOUNDS_ORACLE)
def ann_pq_recall_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving-path recall ladder (functions/pq.py), verified against
    its guaranteed invariants per query -- the bounds-check oracle shape
    events_value_quantile_sketch proved out in r7:

    * ``rerank_ge_adc``: exact re-rank of the ADC top-32 shortlist never
      loses recall vs ADC-only top-5. Guaranteed: every true-top-5
      element ADC placed in its top-5 is in the shortlist, and under
      exact-cosine order (ties: neighbor id asc, same key as brute
      force) a global top-5 element ranks top-5 inside ANY candidate
      subset containing it.
    * ``full_matches_exact``: re-ranking a FULL-corpus shortlist equals
      brute force pair-for-pair (ids exact, cosines within 1e-9).
      Guaranteed: both paths score the identical exact int64 dot /
      IEEE sqrt-divide cosine and share _global_topk's tie-break, so
      PQ-with-total-rerank degrades exactly to the uncompressed search.

    The full-shortlist leg is VERIFIER-ONLY cost, same accounting as
    the sketch row's exact rank counts: production callers bound
    ``rerank`` by contract (pq.py pq_topk) and never pay it;
    error/recall pytest coverage stays in tests/test_pq.py.

    Cost shape (first-bench rework: 5.0s/29 jobs as three independent
    pq_topk calls -> ONE ADC pass over the session-cached index): the
    trained codebook + encoded codes are the build-once/probe-many
    index product, cached per (session, sf_dir) exactly like
    _ivf_index / _ivf_wh (the one-time build lands in the cold pass);
    each measured call then scans the codes ONCE with a corpus-length
    shortlist, giving the complete ADC ranking as a pinned pair frame
    -- the ADC top-5 and top-32 legs are ONE row_number window over
    it, and both rerank legs derive from ONE exact re-scoring join of
    those pairs against the quantized corpus (full = exact top-5 over
    all pairs, rr = exact top-5 over the ADC top-32 subset). Ground
    truth stays the INDEPENDENT brute_force_topk kernel, computed
    in-call every rep -- the ladder compares two disjoint code paths,
    exactly what full_matches_exact is for."""
    from pyspark.sql import Window

    from .functions.pq import pq_topk
    from .functions.similarity import (
        _global_topk,
        brute_force_topk,
        cosine,
        int_dot,
        with_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    k = 5
    cb, enc, n_corpus = _pq_index(spark, sf_dir)
    # consumed by all three ladder joins + the truth counts: pin so the
    # brute-force kernel runs once and every leg compares the SAME rows
    exact = brute_force_topk(emb, query_ids=qids, k=k).localCheckpoint()
    # one ADC pass ranks every (query, corpus) pair; pinned for 3 legs
    adc_ranked = (
        pq_topk(emb, qids, k=n_corpus, codebook=cb, encoded=enc)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cosine").desc(), F.col("neighbor_id")
                )
            ),
        )
        .localCheckpoint()
    )
    adc = adc_ranked.filter(F.col("rn") <= k).select(
        "query_id", "neighbor_id", "cosine"
    )
    qside = with_quantized(emb.filter(F.col("vec_id").isin(qids)), "embedding").select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm").alias("q_qnorm"),
    )
    nside = with_quantized(emb, "embedding").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("n_qvec"),
        F.col("qnorm").alias("n_qnorm"),
    )
    # one exact re-scoring of the ADC pair set (the rerank join shape,
    # corpus-wide because the full leg needs every pair); both rerank
    # legs are windows over it -- rn rides along so the top-32 subset
    # needs no second window over adc_ranked
    exact_all = (
        adc_ranked.select("query_id", "neighbor_id", "rn")
        .join(F.broadcast(qside), "query_id")
        .join(nside, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "rn",
            cosine(
                int_dot(F.col("q_qvec"), F.col("n_qvec")),
                F.col("q_qnorm"),
                F.col("n_qnorm"),
            ).alias("cosine"),
        )
        .localCheckpoint()
    )
    full = _global_topk(exact_all.drop("rn"), k)
    rr = _global_topk(
        exact_all.filter(F.col("rn") <= 32).drop("rn"), k
    )

    def hits(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select("query_id", "neighbor_id")
            .join(
                exact.select("query_id", "neighbor_id"),
                on=["query_id", "neighbor_id"],
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias(name))
        )

    truth = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    mism = (
        full.select("query_id", "neighbor_id", F.col("cosine").alias("c_full"))
        .join(
            exact.select("query_id", "neighbor_id", F.col("cosine").alias("c_ex")),
            on=["query_id", "neighbor_id"],
            how="full",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("c_full").isNull() | F.col("c_ex").isNull(), 1)
                .when(F.abs(F.col("c_full") - F.col("c_ex")) > 1e-9, 1)
                .otherwise(0)
            ).alias("n_mismatch")
        )
    )
    return (
        truth.join(hits(adc, "h_adc"), "query_id", "left")
        .join(hits(rr, "h_rr"), "query_id", "left")
        .join(mism, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            (
                F.coalesce(F.col("h_rr"), F.lit(0))
                >= F.coalesce(F.col("h_adc"), F.lit(0))
            ).alias("rerank_ge_adc"),
            (F.coalesce(F.col("n_mismatch"), F.lit(1)) == 0).alias(
                "full_matches_exact"
            ),
        )
    )


# ---------------------------------------------------------------------------
# JSONL landing-zone round-trip row (r7 VERDICT directive 6): the driver row
# for sources.read_jsonl_quarantine, whose correctness previously rested on
# pytest alone. The landing file is DERIVED deterministically from the
# documents table (good lines = to_json of the real rows; doc_id % 17 == 3
# -> malformed JSON; % 17 == 5 -> schema-drift doc_id), so DuckDB never
# reads the file -- it pins the expected clean rows and quarantine count
# from the same documents relation, and hash-match proves the Spark path
# (write -> read.text -> from_json PERMISSIVE split) round-trips exactly.
# ---------------------------------------------------------------------------

_JSONL_LANDING_CACHE: dict[tuple, str] = {}


def _jsonl_landing_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write-once-per-session landing-zone JSONL derived from documents
    (same accounting as _ivf_index / the merge-verb scratch templates:
    fixture construction lands in the cold pass; measured reps pay only
    the ingest under test)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    path = _JSONL_LANDING_CACHE.get(key)
    if path:
        return path
    path = _scratch_dir("jsonl_landing_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mod = F.col("doc_id") % 17
    line = (
        F.when(
            mod == 3,
            F.concat(
                F.lit('{"doc_id": '),
                F.col("doc_id").cast("string"),
                F.lit(', "text": "truncated'),  # unterminated: malformed
            ),
        )
        .when(
            mod == 5,
            F.concat(
                F.lit('{"doc_id": "drift-'),
                F.col("doc_id").cast("string"),
                F.lit('", "text": "drifted"}'),  # parses, wrong type
            ),
        )
        .otherwise(F.to_json(F.struct("doc_id", "text")))
    )
    docs.select(line.alias("value")).write.mode("overwrite").text(path)
    _JSONL_LANDING_CACHE[key] = path
    return path


_JSONL_ROUNDTRIP_ORACLE = """
WITH q AS (
    SELECT COUNT(*) AS n_quarantined FROM documents WHERE doc_id % 17 IN (3, 5))
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, n_quarantined
FROM documents CROSS JOIN q
WHERE doc_id % 17 NOT IN (3, 5)
"""


@register("documents_jsonl_roundtrip", _JSONL_ROUNDTRIP_ORACLE)
def documents_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch JSONL quarantine ingest (sources.read_jsonl_quarantine):
    clean rows must round-trip the original documents exactly (JSON
    escaping included -- n_chars is the per-doc character count after
    write->parse), and the quarantine must hold exactly the planted
    malformed + drift lines, never silently dropping or nulling them.
    One read.text scan + codegen'd from_json split per side, the
    quarantine count rides in as a broadcast one-row frame; hashed
    bytes are integer-only."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from .sources import read_jsonl_quarantine

    path = _jsonl_landing_fixture(spark, sf_dir)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    clean, quarantined = read_jsonl_quarantine(spark, path, schema)
    nq = quarantined.agg(F.count(F.lit(1)).alias("n_quarantined"))
    return clean.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    ).crossJoin(F.broadcast(nq))


# ---------------------------------------------------------------------------
# Round-8 registrations (MID-order: outside the 50-row driver cap this
# round per the rotation note; oracles locally verified at sf0.01 and
# benched from day 1; first driver rows due r9): model-based data
# selection (functions/selection.py).
# ---------------------------------------------------------------------------

_TOKS_SQL = """
    SELECT doc_id, lang,
           unnest(list_filter(regexp_split_to_array(trim(regexp_replace(
               lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+'),
               x -> x <> '')) AS w
    FROM documents
"""

_DSIR_ORACLE = f"""
WITH toks AS ({_TOKS_SQL}),
tok AS (
    SELECT doc_id,
           ('0x' || substr(md5(w), 1, 8))::BIGINT % 8192 AS b,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
    FROM toks),
mat AS (SELECT doc_id, b, is_t, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3),
cnt AS (SELECT b, SUM(c) AS c_s, SUM(c * is_t) AS c_t FROM mat GROUP BY b),
tot AS (SELECT SUM(c_s) AS n_s, SUM(c_t) AS n_t FROM cnt),
ratio AS (
    SELECT b, ln(CAST(c_t + 1 AS DOUBLE) / (n_t + 8192))
             - ln(CAST(c_s + 1 AS DOUBLE) / (n_s + 8192)) AS lr
    FROM cnt CROSS JOIN tot)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(ROUND(SUM(c * lr) * 1000, 0) AS BIGINT) AS log_weight_mnat
FROM mat JOIN ratio USING (b) GROUP BY doc_id
"""


@register("documents_dsir_weights", _DSIR_ORACLE)
def documents_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights against the English subset as the
    target domain (functions/selection.py dsir_log_weights; Xie et al.
    2023): one hashed-token pass materializes the (doc, bucket, count)
    feature matrix, which serves both the joint source+target add-1 LM
    aggregation (8192 buckets, conditional sums) and the scoring join
    (bounded log-ratio table broadcast back onto the matrix with a
    count-weighted rollup). Score ships as scaled-BIGINT milli-nats
    (the integer-only hash contract established r8)."""
    from .functions.selection import dsir_log_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_log_weights(docs, F.col("lang") == "en").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("log_weight") * 1000, 0).cast("bigint").alias("log_weight_mnat"),
    )


_LINEAR_SCORE_ORACLE = f"""
WITH toks AS ({_TOKS_SQL}),
tok AS (
    SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 4096 AS b
    FROM toks),
mat AS (SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY 1, 2),
wts AS (
    SELECT r.range AS b,
           (r.range + 1) * 2654435761 % 1000003 - 500000 AS wt
    FROM range(4096) r)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(c * wt) AS BIGINT) AS w_sum
FROM mat JOIN wts USING (b) GROUP BY doc_id
"""


@register("documents_quality_linear", _LINEAR_SCORE_ORACLE)
def documents_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words linear classifier inference (functions/
    selection.py hashed_linear_score) -- the fastText-style quality-
    classifier serving shape: 4096-bucket feature hash, bounded weight
    table broadcast onto the token stream (the corpus never shuffles
    for the join), one per-doc rollup. The deterministic synthetic
    weight table stands in for a trained model on both engines, and
    w_sum stays exact integer micro-units so the hashed bytes carry no
    floats at all."""
    from .functions.selection import hashed_linear_score

    return hashed_linear_score(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "w_sum"
    )


_SPAN_SCRUB_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           COALESCE(list_filter(regexp_split_to_array(trim(regexp_replace(
               lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+'),
               x -> x <> ''), []) AS a
    FROM documents),
inst AS (
    SELECT doc_id, s.pos AS pos, s.gram AS gram
    FROM (SELECT doc_id,
                 unnest([ {'pos': i, 'gram': array_to_string(a[i:i+7], ' ')}
                          for i in range(1, len(a) - 8 + 2) ]) AS s
          FROM toks)),
dup AS (
    SELECT gram
    FROM (SELECT DISTINCT doc_id, gram FROM inst)
    GROUP BY gram HAVING COUNT(*) >= 2),
flags AS (
    SELECT doc_id, list_sort(list(DISTINCT pos)) AS ss
    FROM inst JOIN dup USING (gram) GROUP BY doc_id),
j AS (
    SELECT t.doc_id, t.a, COALESCE(f.ss, CAST([] AS INTEGER[])) AS ss
    FROM toks t LEFT JOIN flags f USING (doc_id)),
k AS (
    SELECT doc_id, a,
           [ a[i] for i in range(1, len(a) + 1)
             if len(list_filter(ss, s -> s <= i AND i < s + 8)) = 0 ] AS kept
    FROM j)
SELECT doc_id,
       CAST(len(a) AS BIGINT) AS n_tokens,
       CAST(len(a) - len(kept) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(kept, ' '), '') AS clean_text
FROM k
"""


@register("documents_span_scrub", _SPAN_SCRUB_ORACLE)
def documents_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact-substring scrub (functions/corpus.py
    remove_duplicated_spans): every token position covered by a word
    8-gram repeated in >=2 distinct docs is struck and the survivors
    reassembled in order -- the removal ACTION on the
    duplicated_span_stats signal (same gram doc-frequency model, same
    AQE-skew-split instance join, plus one flagged-starts rollup and a
    per-row array reassembly). Hashed bytes are BIGINT counts plus the
    reconstructed token string -- no floats anywhere."""
    from .functions.corpus import remove_duplicated_spans

    return remove_duplicated_spans(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_removed", "clean_text"
    )


_SEM_DEDUP_ORACLE = f"""
WITH q AS (
    SELECT vec_id, {_QVEC_SQL} AS qvec FROM embeddings),
n AS (
    SELECT vec_id, qvec,
           CAST(list_sum([qvec[i] * qvec[i] for i in range(1, 65)]) AS BIGINT) AS qnorm
    FROM q),
c0 AS (
    SELECT vec_id AS cent_id, qvec AS cv, qnorm AS cn FROM n WHERE vec_id % 50 = 0),
s0 AS (
    SELECT n.vec_id, n.qvec, n.qnorm, c0.cent_id,
           CAST(CAST(list_sum([n.qvec[i] * c0.cv[i] for i in range(1, 65)]) AS BIGINT)
                AS DOUBLE) /
               (sqrt(CAST(n.qnorm AS DOUBLE)) * sqrt(CAST(c0.cn AS DOUBLE))) AS csim
    FROM n CROSS JOIN c0),
a0 AS (
    SELECT vec_id, qvec, qnorm, cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
    FROM s0),
m0 AS (SELECT vec_id, qvec, qnorm, cell FROM a0 WHERE rn = 1),
sums AS (
    SELECT cell, r.range AS pos,
           sum(qvec[CAST(r.range + 1 AS INT)]) AS s, count(*) AS cnt
    FROM m0 CROSS JOIN range(64) r GROUP BY 1, 2),
c1 AS (
    SELECT cell AS cent_id,
           list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY pos) AS cv
    FROM sums GROUP BY cell),
c1n AS (
    SELECT cent_id, cv,
           CAST(list_sum([cv[i] * cv[i] for i in range(1, 65)]) AS BIGINT) AS cn
    FROM c1),
s1 AS (
    SELECT n.vec_id, n.qvec, n.qnorm, c1n.cent_id,
           CAST(CAST(list_sum([n.qvec[i] * c1n.cv[i] for i in range(1, 65)]) AS BIGINT)
                AS DOUBLE) /
               (sqrt(CAST(n.qnorm AS DOUBLE)) * sqrt(CAST(c1n.cn AS DOUBLE))) AS csim
    FROM n CROSS JOIN c1n),
a1 AS (
    SELECT vec_id, qvec, qnorm, cent_id AS cell, csim,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
    FROM s1),
cells AS (SELECT vec_id, qvec, qnorm, cell, csim FROM a1 WHERE rn = 1),
pr AS (
    SELECT qa.vec_id AS id_a, qb.vec_id AS id_b,
           qa.csim AS cos_a, qb.csim AS cos_b,
           CAST({_DOT_SQL} AS DOUBLE) /
               (sqrt(CAST(qa.qnorm AS DOUBLE)) * sqrt(CAST(qb.qnorm AS DOUBLE))) AS cosine
    FROM cells qa JOIN cells qb ON qa.cell = qb.cell AND qa.vec_id < qb.vec_id),
dom AS (
    SELECT DISTINCT CASE WHEN (cos_a > cos_b)
                              OR (cos_a = cos_b AND id_a > id_b)
                         THEN id_a ELSE id_b END AS vec_id
    FROM pr WHERE cosine >= 0.3)
SELECT c.vec_id, c.cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM cells c LEFT JOIN dom d USING (vec_id)
"""


@register("dedup_semantic_keep", _SEM_DEDUP_ORACLE)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup verdict (functions/similarity.py
    semantic_dedup): k-means cells (the SAME session-cached Lloyd-1
    codebook the IVF family probes), within-cell cosine pairs, and the
    deterministic keep-farthest-from-centroid dominance rule. The
    oracle replays the identical exact-int construction in SQL --
    Lloyd-1 assignment CTEs shared textually with _ANN_IVF_ORACLE,
    full within-cell pairs (every cell is under the 1024 cap at this
    SF, so the Spark side takes the exact all-pairs kernel path) --
    and the hashed bytes are integer-only (ids, cells, 0/1 verdicts).
    Threshold 0.3 per the near-random fixture (same reasoning as
    dedup_embedding_cosine's 0.25)."""
    from .functions.similarity import semantic_dedup

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.3,
        codebook=_ivf_codebook(spark, sf_dir),
    ).select("vec_id", "cell", F.col("kept").cast("bigint").alias("kept"))


_GOPHER_ORACLE = r"""
WITH b AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_word_chars,
         len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
         regexp_split_to_array(text, '\n') AS lines,
         regexp_split_to_array(trim(text), '\s+') AS words,
         lower(text) AS low
  FROM documents),
c AS (
  SELECT doc_id, n_words, n_word_chars, n_symbols,
         len(lines) AS n_lines,
         len(list_filter(lines, ln -> regexp_matches(trim(ln), '^[-*•]'))) AS n_bullet,
         len(list_filter(lines, ln -> regexp_matches(rtrim(ln), '\.\.\.$'))) AS n_ell,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
         (CASE WHEN regexp_matches(low, '\bthe\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bbe\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bto\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bof\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\band\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bthat\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bhave\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bwith\b') THEN 1 ELSE 0 END) AS n_stop
  FROM b)
SELECT doc_id, n_words, n_word_chars, n_symbols, n_alpha_words,
       CAST(n_stop AS BIGINT) AS n_stopwords_present,
       (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
       (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words)
           AS rule_mean_word_len,
       (10 * n_symbols <= n_words) AS rule_symbol_ratio,
       (10 * n_bullet <= 9 * n_lines) AS rule_bullet_lines,
       (10 * n_ell <= 3 * n_lines) AS rule_ellipsis_lines,
       (5 * n_alpha_words >= 4 * n_words) AS rule_alpha_words,
       (n_stop >= 1) AS rule_stopwords,
       (n_words >= 50 AND n_words <= 100000
        AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        AND 10 * n_symbols <= n_words AND 10 * n_bullet <= 9 * n_lines
        AND 10 * n_ell <= 3 * n_lines AND 5 * n_alpha_words >= 4 * n_words
        AND n_stop >= 1) AS gopher_pass
FROM c
"""


@register("documents_gopher_rules", _GOPHER_ORACLE)
def documents_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter verdict (functions/text.py
    gopher_rules; Rae et al. 2021 Table A1): word-count bounds,
    mean-word-length bounds, symbol/bullet/ellipsis ratios,
    alphabetic-word share, stop-word presence -- one map-only codegen
    scan, no shuffle. Every ratio threshold is an integer
    cross-multiplication and the hashed bytes are BIGINT counts and
    BOOLEAN flags only (the r7 integer-only-output lesson applied from
    birth). ``min_stopwords=1`` because the synthetic vocabulary
    carries exactly one canonical stop word ('the') -- at 1 the rule
    varies with the data instead of pinning constant-false."""
    from .functions.text import gopher_rules

    return gopher_rules(load_table(spark, sf_dir, "documents"), min_stopwords=1)


_BLOOM_DECONTAM_ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g')), '\s+'), t -> t <> '') AS ts
    FROM documents),
grams AS (
    SELECT doc_id,
           list_distinct([array_to_string(ts[i:i+7], ' ')
                          for i in generate_series(1, len(ts) - 7)]) AS gs
    FROM toks WHERE len(ts) >= 8),
dg AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
bh AS (SELECT ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h1,
              ('0x' || substr(md5(gram), 9, 8))::BIGINT AS h2 FROM bg),
pos AS (SELECT DISTINCT (h1 + i.range * h2) % 131072 AS p
        FROM bh CROSS JOIN range(4) i),
ph AS (SELECT doc_id, h1, h2,
              bool_and((h1 + i.range * h2) % 131072 IN (SELECT p FROM pos))
                  AS gram_hit
       FROM (SELECT doc_id,
                    ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h1,
                    ('0x' || substr(md5(gram), 9, 8))::BIGINT AS h2 FROM dg) probe
       CROSS JOIN range(4) i GROUP BY doc_id, h1, h2),
dochit AS (SELECT doc_id, bool_or(gram_hit) AS bloom_hit FROM ph GROUP BY doc_id),
exact AS (SELECT DISTINCT doc_id FROM dg WHERE gram IN (SELECT gram FROM bg))
SELECT d.doc_id, coalesce(h.bloom_hit, FALSE) AS bloom_hit,
       (d.doc_id IN (SELECT doc_id FROM exact)) AS exact_hit
FROM documents d LEFT JOIN dochit h USING (doc_id)
"""


@register("documents_bloom_decontaminate", _BLOOM_DECONTAM_ORACLE)
def documents_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-Bloom decontamination verdicts (functions/corpus.py
    bloom_contamination_flags): the zero-join scale path next to
    corpus_decontaminate's gram-key join. The benchmark slice's
    word-8-gram hashes pack into a driver-built bitset (bounded by
    construction -- eval suites are megabytes) that broadcasts to every
    executor; each document's gram ARRAY probes it IN PLACE via
    F.exists (element_at + bitwiseAND codegen -- no explode, no join,
    no stop-gram cap needed because there is no join to skew), so the
    production probe is a zero-shuffle pure map (plan-asserted in
    test_plan_shapes.py). The oracle replays the identical Bloom math in SQL -- the
    md5-prefix double-hash position set (Kirsch-Mitzenmacher) is plain
    integer arithmetic both engines reproduce bit-for-bit -- so
    ``bloom_hit`` itself is exactly verified, false positives
    included, alongside the exact join verdict (``exact_hit``) that
    exhibits the superset contract in data. m_bits pinned to 2^17 so
    both sides agree at any SF; hashed bytes are boolean-only."""
    from .functions.corpus import bloom_contamination_flags

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return bloom_contamination_flags(
        docs, bench, n=8, m_bits=2**17, with_exact=True
    )


@register(
    "events_value_histogram",
    """
    SELECT event_type,
           CAST(least(19, greatest(0, floor((value - 0.0) / 25.0))) AS BIGINT)
               AS bucket,
           COUNT(*) AS cnt
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type equi-width histogram (functions/sketch.py
    equi_width_histogram): 20 buckets over value in [0, 500), edge
    clamping, one codegen floor expression and one map-side-combined
    (type, bucket) count -- output bounded at groups x buckets at any
    scale, the ANALYZE-pass companion to the sketch family. Integer
    bucket index + BIGINT count only in the hashed bytes; both engines
    evaluate the IDENTICAL floor((value - 0.0) / 25.0) double
    expression, so the bucket of a boundary-adjacent value is the same
    bit-for-bit on both sides."""
    from .functions.sketch import equi_width_histogram

    return equi_width_histogram(
        load_table(spark, sf_dir, "events"), ["event_type"], "value", 0.0, 500.0, 20
    )


_CONSTRAINT_AUDIT_ORACLE = """
WITH u AS (
    SELECT o_orderkey, o_custkey, o_orderdate FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderdate FROM orders
    WHERE o_orderkey % 1000 = 7),
dirty AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 211 = 0 THEN NULL
                WHEN o_orderkey % 307 = 0 THEN -o_custkey
                ELSE o_custkey END AS o_custkey,
           o_orderdate
    FROM u),
checks AS (
    SELECT 'pk_unique' AS constraint_type, 'o_orderkey' AS columns,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM dirty
    UNION ALL
    SELECT 'not_null', 'o_custkey',
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
    FROM dirty
    UNION ALL
    SELECT 'not_null', 'o_orderdate',
           CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT)
    FROM dirty
    UNION ALL
    SELECT 'fk_orphan', 'o_custkey',
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NOT NULL
                AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
    FROM dirty)
SELECT constraint_type, columns, n_violations,
       (n_violations = 0) AS is_valid
FROM checks
"""


@register("orders_constraint_audit", _CONSTRAINT_AUDIT_ORACLE)
def orders_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint audit (catalog/profile.py
    validate_constraints -- the dbt-test altitude data-quality pass the
    reference's governance surface implies): PK uniqueness, NOT NULL,
    and FK-orphan checks over a DETERMINISTICALLY dirtied orders feed
    (modulo-selected duplicate keys, nulled and negated custkeys --
    the format_violations seeding pattern) so every check has nonzero
    work to find. One aggregation pass covers PK + NOT NULL; the FK
    check joins the DISTINCT child keys (with multiplicities) against
    the distinct parent keys, so the join never carries the child's
    full row count. Integer counts + booleans only in the hashed
    bytes."""
    from .catalog.profile import validate_constraints

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    dirty = orders.unionByName(
        orders.filter(F.col("o_orderkey") % 1000 == 7)
    ).withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 211 == 0, F.lit(None).cast("long"))
        .when(F.col("o_orderkey") % 307 == 0, -F.col("o_custkey"))
        .otherwise(F.col("o_custkey")),
    )
    customer = load_table(spark, sf_dir, "customer")
    return validate_constraints(
        dirty,
        pk_columns=["o_orderkey"],
        not_null=["o_custkey", "o_orderdate"],
        fk={"o_custkey": (customer, "c_custkey")},
    )


# ---------------------------------------------------------------------------
# r9 mid-order registrations (first driver rows due r10, per the r8
# VERDICT directive-4 designations). All five passed the hardened
# tools/dtype_audit.py hard-error gate before entering this file.
# ---------------------------------------------------------------------------


@register(
    "documents_shard_plan",
    """
    SELECT doc_id,
           ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS shuffle_key,
           ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32
               AS shard
    FROM documents
    """,
)
def documents_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle shard assignment (functions/shard.py
    shard_assignments): shard = md5(seed:id) 32-bit prefix mod
    n_shards, shuffle_key the within-shard order. Pure map-only plan --
    the oracle replays the identical md5 integer construction, so the
    check is exact cross-engine. The write path
    (write_training_shards) adds the one sanctioned corpus shuffle;
    the ASSIGNMENT is what the oracle can see."""
    from .functions.shard import shard_assignments

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return shard_assignments(docs, n_shards=32, seed=1).select(
        "doc_id", "shuffle_key", "shard"
    )


@register(
    "documents_bpe_token_counts",
    """
    WITH w AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(
                   regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   '\\s+')) AS w
        FROM documents),
    words AS (SELECT doc_id, w FROM w WHERE w <> ''),
    per AS (
        SELECT doc_id,
               SUM(len(w) + 1
                   - CASE WHEN w LIKE '%e' THEN 1 ELSE 0 END
                   - (len(w) - len(replace(w, 'th', ''))) // 2
                   - (len(w) - len(replace(w, 'an', ''))) // 2) AS n
        FROM words GROUP BY doc_id)
    SELECT d.doc_id, CAST(COALESCE(per.n, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def documents_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BPE token counts under a PINNED literal merge list
    (functions/tokenizer.py bpe_apply -- the distributed Arrow
    mapInPandas apply path, the production shape; bpe_train's learned
    lists stay pytest-verified as the iterative part). The pinned
    merges [('e','</w>'), ('t','h'), ('a','n')] are pairwise
    non-interacting over disjoint symbol alphabets, so the greedy
    rank-order segmentation reduces to closed-form token arithmetic:
    tokens(w) = len(w)+1 - [w ends with 'e'] - occ(w,'th') - occ(w,'an')
    with occ() the same non-overlapping left-to-right count both
    _merge_word and SQL replace() implement. That makes the Python
    kernel's output EXACTLY SQL-expressible -- integer-only hashed
    bytes, no tokenizer simulation in the oracle."""
    from .functions.tokenizer import bpe_apply

    docs = load_table(spark, sf_dir, "documents")
    merges = [("e", "</w>"), ("t", "h"), ("a", "n")]
    return bpe_apply(docs, merges)


@register(
    "events_correlation_matrix",
    """
    WITH m AS (
        SELECT event_type, 'value' AS col_x, 'user_id' AS col_y,
               corr(value, user_id) AS r,
               COUNT(CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                     THEN 1 END) AS n_pairs
        FROM events GROUP BY event_type
        UNION ALL
        SELECT event_type, 'value', 'event_id',
               corr(value, event_id),
               COUNT(CASE WHEN value IS NOT NULL AND event_id IS NOT NULL
                     THEN 1 END)
        FROM events GROUP BY event_type
        UNION ALL
        SELECT event_type, 'user_id', 'event_id',
               corr(user_id, event_id),
               COUNT(CASE WHEN user_id IS NOT NULL AND event_id IS NOT NULL
                     THEN 1 END)
        FROM events GROUP BY event_type)
    SELECT event_type, col_x, col_y,
           CAST(ROUND(r * 1000000, 0) AS BIGINT) AS corr_e6,
           CAST(n_pairs AS BIGINT) AS n_pairs
    FROM m
    """,
)
def events_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped pairwise correlation matrix (functions/stats.py
    grouped_correlations): every pair's co-moments are independent
    aggregate expressions inside ONE groupBy -- one scan, map-side
    partial Welford moments, output bounded at groups x C(cols, 2).
    Scaled-BIGINT emit (micro-units, the entropy-row precedent): corr
    is dimensionless in [-1, 1], so a cross-engine sum-order skew of
    ~1e-12 only flips the 1e-6 grid within 1e-12 of a boundary.
    covar_samp stays in the unhashed surface (its magnitude is
    data-scaled, which puts engine noise above integer grids);
    it is pinned by corr = covar / (sx * sy) up to the verified
    stddevs."""
    from .functions.stats import grouped_correlations

    ev = load_table(spark, sf_dir, "events")
    gc = grouped_correlations(ev, ["event_type"], ["value", "user_id", "event_id"])
    return gc.select(
        "event_type",
        "col_x",
        "col_y",
        F.round(F.col("corr") * 1000000, 0).cast("bigint").alias("corr_e6"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
    )


@register(
    "documents_hashed_embedding",
    """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(
                   regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   '\\s+')) AS w
        FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hv
          FROM toks WHERE w <> ''),
    m AS (SELECT doc_id, hv % 64 AS dim,
                 SUM(((hv >> 15) % 2) * 2 - 1) AS tf_signed
          FROM h GROUP BY 1, 2),
    dfreq AS (SELECT dim, COUNT(*) AS df FROM m GROUP BY dim),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM m),
    wv AS (SELECT m.doc_id, m.dim,
                  CAST(m.tf_signed AS DOUBLE)
                      * (ln((nd.n_docs + 1) / CAST(dfreq.df + 1 AS DOUBLE))
                         + 1.0) AS v
           FROM m JOIN dfreq ON m.dim = dfreq.dim CROSS JOIN nd),
    nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS nrm FROM wv GROUP BY doc_id),
    grid AS (SELECT d.doc_id, g.dim
             FROM (SELECT DISTINCT doc_id FROM m) d
             CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) g)
    SELECT grid.doc_id, grid.dim,
           CAST(ROUND(COALESCE(wv.v / NULLIF(nrm.nrm, 0), 0) * 1000000, 0)
                AS BIGINT) AS val_e6
    FROM grid
    JOIN nrm ON grid.doc_id = nrm.doc_id
    LEFT JOIN wv ON grid.doc_id = wv.doc_id AND grid.dim = wv.dim
    """,
)
def documents_hashed_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature-hashing TF-IDF vectors (functions/selection.py
    hashed_embedding, Weinberger et al. 2009) exploded to
    (doc_id, dim, val_e6): the full dense L2-normalized vector in
    micro-units, so the oracle replays token hashing, sign bits,
    smoothed IDF, densification AND normalization cross-engine. The
    hashing core (md5 prefix, sign bit, mod-dims) is exact integer
    math; only the final normalized coordinate rides the 1e-6 grid
    (values in [-1, 1] -- same boundary argument as the entropy row).
    Docs with zero tokens emit no row on either side."""
    from .functions.selection import hashed_embedding

    docs = load_table(spark, sf_dir, "documents")
    emb = hashed_embedding(docs, dims=64)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "__v")
    ).select(
        "doc_id",
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("__v") * 1000000, 0).cast("bigint").alias("val_e6"),
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH oldv AS (
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal
    FROM customer)
SELECT 'deleted' AS change_type, c_custkey,
       CAST(NULL AS BIGINT) AS n_cols_changed
FROM oldv WHERE c_custkey % 10 = 7
UNION ALL
SELECT 'inserted', c_custkey + 1000000, CAST(NULL AS BIGINT)
FROM oldv WHERE c_custkey % 10 = 0
UNION ALL
SELECT 'changed', c_custkey, CAST(1 AS BIGINT)
FROM oldv WHERE c_custkey % 10 = 3
"""


@register("warehouse_snapshot_diff", _SNAPSHOT_DIFF_ORACLE)
def warehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-version table diff over the warehouse commit log
    (functions/diff.py snapshot_diff_versions composed with
    warehouse.py read_version): v1 = customer, v2 = customer with a
    deterministic churn batch (delete keys %10=7, bump c_acctbal +50
    on %10=3, insert key+1e6 clones of %10=0), diffed on the primary
    key. ONE full-outer key shuffle, output sized by the CHANGE
    volume. The two versions are committed once per session into a
    template warehouse and hardlink-cloned per call
    (_template_scratch); the oracle recomputes the change set from
    the source rows."""
    from pyspark.sql import types as T

    from .functions.diff import snapshot_diff_versions
    from .warehouse import Warehouse

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_name", "c_acctbal"
    )

    def build(root: str) -> None:
        wh = Warehouse(spark, root, retain_generations=3)
        schema = T.StructType(
            [
                T.StructField("c_custkey", T.LongType()),
                T.StructField("c_name", T.StringType()),
                T.StructField("c_acctbal", T.DoubleType()),
            ]
        )
        wh.create_table("dim.cust", schema)
        wh.overwrite("dim.cust", cust)
        changed = cust.filter(F.col("c_custkey") % 10 != 7).withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 10 == 3, F.col("c_acctbal") + 50
            ).otherwise(F.col("c_acctbal")),
        )
        inserted = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "c_custkey", F.col("c_custkey") + 1000000
        )
        wh.overwrite("dim.cust", changed.unionByName(inserted))

    root = _template_scratch(("snapdiff", sf_dir), "autodw_sdiff_", build)
    wh = Warehouse(spark, root, retain_generations=3)
    versions = [h["version"] for h in wh.history("dim.cust") if h["action"] != "base"]
    return snapshot_diff_versions(
        wh, "dim.cust", versions[-2], versions[-1], ["c_custkey"]
    )


@register(
    "documents_source_overlap",
    r"""
WITH toks AS (
    SELECT source,
           list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g')), '\s+'), t -> t <> '') AS ts
    FROM documents),
grams AS (
    SELECT source,
           list_distinct([array_to_string(ts[i:i+7], ' ')
                          for i in generate_series(1, len(ts) - 7)]) AS gs
    FROM toks WHERE len(ts) >= 8),
vocab AS (
    SELECT DISTINCT source,
           ('0x' || substr(md5(gram), 1, 8))::BIGINT AS gh
    FROM (SELECT source, unnest(gs) AS gram FROM grams)),
ok AS (SELECT gh FROM vocab GROUP BY gh HAVING COUNT(*) <= 32),
m AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS shared_grams
    FROM vocab a
    JOIN ok USING (gh)
    JOIN vocab b USING (gh)
    GROUP BY 1, 2)
SELECT src_a, src_b, shared_grams,
       MAX(CASE WHEN src_a = src_b THEN shared_grams END)
           OVER (PARTITION BY src_a) AS grams_a,
       MAX(CASE WHEN src_a = src_b THEN shared_grams END)
           OVER (PARTITION BY src_b) AS grams_b,
       shared_grams * 1000000
           // MAX(CASE WHEN src_a = src_b THEN shared_grams END)
              OVER (PARTITION BY src_a) AS containment_e6
FROM m
""",
)
def documents_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x source gram-overlap matrix (functions/corpus.py
    source_overlap_matrix): per-source distinct word-8-gram
    vocabularies, shared-gram counts per ordered pair incl. the
    diagonal, and integer micro-unit containment. ONE corpus scan; all
    post-vocabulary work is vocabulary-sized; the oracle replays the
    identical md5 gram-hash integers, window diagonal pull, and
    integer division -- no float anywhere in the hashed bytes."""
    from .functions.corpus import source_overlap_matrix

    return source_overlap_matrix(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# r10 mid-order registrations (first driver rows due r11, per the r9
# VERDICT directive-6 designations). All four passed the hardened
# tools/dtype_audit.py hard-error gate before entering this file.
# ---------------------------------------------------------------------------


@register(
    "quality_binned_sample",
    """
    WITH b AS (
        SELECT doc_id, lang, source, n_chars,
               (CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END
              + CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS bin
        FROM documents WHERE n_chars IS NOT NULL)
    SELECT doc_id, lang, source, n_chars, CAST(bin AS BIGINT) AS quality_bin
    FROM b
    WHERE (doc_id * 2654435761) % 1000003 <
          (CASE bin WHEN 0 THEN 250000 WHEN 1 THEN 600001 ELSE 900002 END)
    """,
)
def quality_binned_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum mixture (functions/sampling.py
    quality_binned_sample): keep low-quality docs at 25%, mid at 60%,
    high at 90%, binned by FIXED n_chars cut points (150, 300) -- the
    "sample low-quality text down" corpus recipe. Binning and the keep
    decision are both pure pushed filters (zero shuffle at any scale);
    the deterministic multiplicative-hash rank and the threshold
    integers int(rate * 1_000_003) are the exact cross-engine sampler
    family math (documents_stratified_sample precedent), and the
    emitted bin is BIGINT."""
    from .functions.sampling import quality_binned_sample as qbs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return qbs(
        docs,
        key_col="doc_id",
        score_col="n_chars",
        thresholds=[150.0, 300.0],
        rates=[0.25, 0.6, 0.9],
    )


@register(
    "tokenizer_stats",
    """
    WITH w AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(
                   regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   '\\s+')) AS w
        FROM documents),
    words AS (SELECT doc_id, w FROM w WHERE w <> ''),
    per AS (
        SELECT doc_id, COUNT(*) AS nw,
               SUM(len(w) + 1
                   - CASE WHEN w LIKE '%e' THEN 1 ELSE 0 END
                   - (len(w) - len(replace(w, 'th', ''))) // 2
                   - (len(w) - len(replace(w, 'an', ''))) // 2) AS n
        FROM words GROUP BY doc_id),
    g AS (
        SELECT d.source,
               COUNT(*) AS n_docs,
               SUM(COALESCE(per.nw, 0)) AS total_words,
               SUM(COALESCE(per.n, 0)) AS total_bpe_tokens,
               SUM(COALESCE(length(d.text), 0)) AS total_chars
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        GROUP BY d.source)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_words AS BIGINT) AS total_words,
           CAST(total_bpe_tokens AS BIGINT) AS total_bpe_tokens,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(100 * total_bpe_tokens // greatest(total_words, 1)
                AS BIGINT) AS tokens_per_100_words,
           CAST(100 * total_chars // greatest(total_bpe_tokens, 1)
                AS BIGINT) AS chars_per_100_tokens
    FROM g
    """,
)
def tokenizer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility audit (functions/tokenizer.py
    tokenizer_stats): ONE Arrow bpe_apply pass with source + char count
    riding through, then a group-bounded agg. Same pinned
    non-interacting merge list as documents_bpe_token_counts
    ([('e','</w>'), ('t','h'), ('a','n')]), so the greedy segmentation
    reduces to the same closed-form token arithmetic the oracle
    replays; the x100 fixed-point ratios are exact integer division on
    both engines. Every hashed byte is BIGINT or the group key."""
    from .functions.tokenizer import tokenizer_stats as tstats

    docs = load_table(spark, sf_dir, "documents")
    merges = [("e", "</w>"), ("t", "h"), ("a", "n")]
    return tstats(docs, merges, group_col="source")


@register(
    "inference_batch_plan_stats",
    r"""
    WITH base AS (
        SELECT doc_id,
               CAST(COALESCE(len(regexp_extract_all(text,
                   '[A-Za-z0-9]+|[^A-Za-z0-9\s]')), 0) AS BIGINT) AS n_tokens,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM documents),
    banded AS (
        SELECT doc_id, n_tokens, h, h % 32 AS salt,
               GREATEST(CAST(POWER(2, CEIL(LOG2(GREATEST(n_tokens, 1))))
                             AS BIGINT), 1) AS band_tokens
        FROM base),
    planned AS (
        SELECT n_tokens, band_tokens, salt,
               GREATEST(1, 512 // band_tokens) AS rows_per_batch,
               ROW_NUMBER() OVER (
                   PARTITION BY band_tokens, salt ORDER BY h, doc_id) - 1 AS rn
        FROM banded),
    ids AS (
        SELECT n_tokens, band_tokens,
               (CAST(LOG2(band_tokens) AS BIGINT) * 32 + salt) * 4294967296
                   + rn // rows_per_batch AS batch_id
        FROM planned)
    SELECT batch_id, band_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) * band_tokens AS BIGINT) AS padded_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
           CAST(ROUND((COUNT(*) * band_tokens - SUM(n_tokens)) * 10000.0
                      / (COUNT(*) * band_tokens), 0) AS BIGINT) AS waste_pct_e4
    FROM ids GROUP BY batch_id, band_tokens
    """,
)
def inference_batch_plan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-aware inference batch plan audited per batch
    (functions/batching.py inference_batch_plan + batch_plan_stats,
    budget 512): power-of-two length bands, md5-ordered row_number
    inside (band, salt), fixed rows-per-batch by integer division, and
    the (band, salt, counter) bit-packed BIGINT batch id. The oracle
    replays the identical md5 integers, band/batch integer math, and
    basis-point waste; floats touch only log2/pow at exact powers of
    two (exact in IEEE on both engines) and the final waste division
    (same double op both sides before the integer grid)."""
    from .functions.batching import batch_plan_stats, inference_batch_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = inference_batch_plan(docs, max_tokens_per_batch=512)
    return batch_plan_stats(plan)


_DATACARD_ORACLE = r"""
WITH b AS (
  SELECT source, lang, text,
         (text IS NOT NULL AND length(trim(text)) > 0) AS nonempty,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_word_chars,
         len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
         regexp_split_to_array(text, '\n') AS lines,
         regexp_split_to_array(trim(text), '\s+') AS words,
         lower(text) AS low,
         length(text) AS chars
  FROM documents),
c AS (
  SELECT source, lang, text, nonempty, n_words, n_word_chars, n_symbols,
         chars,
         len(lines) AS n_lines,
         len(list_filter(lines, ln -> regexp_matches(trim(ln), '^[-*•]'))) AS n_bullet,
         len(list_filter(lines, ln -> regexp_matches(rtrim(ln), '\.\.\.$'))) AS n_ell,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
         (CASE WHEN regexp_matches(low, '\bthe\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bbe\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bto\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bof\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\band\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bthat\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bhave\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bwith\b') THEN 1 ELSE 0 END) AS n_stop
  FROM b),
v AS (
  SELECT *,
         (n_words >= 50 AND n_words <= 100000
          AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
          AND 10 * n_symbols <= n_words AND 10 * n_bullet <= 9 * n_lines
          AND 10 * n_ell <= 3 * n_lines AND 5 * n_alpha_words >= 4 * n_words
          AND n_stop >= 1) AS gopher_pass
  FROM c)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN NOT nonempty THEN 1 END) AS BIGINT) AS n_empty,
       CAST(COUNT(DISTINCT CASE WHEN nonempty THEN text END)
            AS BIGINT) AS n_distinct_texts,
       CAST(COUNT(CASE WHEN nonempty THEN 1 END)
            - COUNT(DISTINCT CASE WHEN nonempty THEN text END)
            AS BIGINT) AS n_exact_dups,
       CAST(COUNT(CASE WHEN gopher_pass THEN 1 END) AS BIGINT) AS n_gopher_pass,
       CAST(COUNT(CASE WHEN nonempty AND n_words < 50 THEN 1 END)
            AS BIGINT) AS n_short,
       CAST(SUM(COALESCE(chars, 0)) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN nonempty THEN n_words ELSE 0 END)
            AS BIGINT) AS total_words,
       CAST(MIN(chars) AS BIGINT) AS min_chars,
       CAST(MAX(chars) AS BIGINT) AS max_chars,
       CAST(SUM(CASE WHEN nonempty THEN n_stop ELSE 0 END)
            AS BIGINT) AS total_stopword_hits
FROM v GROUP BY source, lang
"""


@register("corpus_datacard", _DATACARD_ORACLE)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus data card (functions/datacard.py
    corpus_datacard; Gebru et al. 2021 datasheets): doc/char/word
    totals, exact-duplicate rate via distinct sha2 digests, the Gopher
    verdict pass count (rule expressions composed INLINE -- one
    conditional-agg pass, no doc-grain join), empty/short counts, and
    exact min/max lengths. The two percentile_approx distribution
    fields are EXCLUDED from the oracle surface (sketch-approximate by
    design; everything hashed here is BIGINT or a group key).
    ``min_stopwords=1`` for the same synthetic-vocabulary reason as
    documents_gopher_rules."""
    from .functions.datacard import corpus_datacard as dcard

    docs = load_table(spark, sf_dir, "documents")
    return dcard(docs, min_stopwords=1).drop("median_chars", "p95_chars")


_WINNOW_ORACLE = r"""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nm
  FROM documents),
g AS (
  SELECT doc_id, u.pos,
         ('0x' || substr(md5(substr(nm, u.pos, 8)), 1, 8))::BIGINT AS h
  FROM n,
       LATERAL (SELECT unnest(generate_series(1, length(nm) - 7)) AS pos) u
  WHERE length(nm) >= 8),
k AS (
  SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key
  FROM g),
m AS (
  SELECT doc_id,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
  FROM k)
SELECT DISTINCT doc_id,
       CAST(1048575 - (mk % 1048576) AS BIGINT) AS fp_pos,
       CAST(mk // 1048576 AS BIGINT) AS fp_hash
FROM m WHERE wn = 4
"""


@register("documents_winnow_fingerprints", _WINNOW_ORACLE)
def documents_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (functions/text.py winnow_fingerprints;
    Schleimer, Wilkerson & Aiken, SIGMOD 2003): min of every 4-window
    of 8-gram hashes over the MOSS-normalized text, rightmost tie-break
    via the exact 2^20 min-key packing, deduped. Fully integer hashed
    bytes (md5-prefix hashes, packed-key window MIN, integer decode);
    the oracle replays the identical packing and frame arithmetic. The
    operator itself is reference-pinned under hypothesis
    (test_winnowing.py) against a pure-Python winnower."""
    from .functions.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=8, w=4)


# -- r11 MID-order registrations: the r10 VERDICT directive-4 oracle
# designations for the r10 session ops. Positions 51+, outside the
# driver's 50-row cap; first driver rows due r12 (see rotation note).

_SFT_SPANS_ORACLE = r"""
WITH t AS (
  SELECT doc_id % 97 AS conv_id, doc_id AS turn_idx,
         CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         substr(text, 1, 120) AS content
  FROM documents),
p AS (
  SELECT conv_id, turn_idx, role,
         length(coalesce(content, '')) AS clen,
         length(role) + 5 AS head,
         length(role) + 6 + length(coalesce(content, '')) AS plen
  FROM t),
o AS (
  SELECT *,
         COALESCE(SUM(plen) OVER (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS off,
         SUM(plen) OVER (PARTITION BY conv_id) AS conv_chars,
         COUNT(*) OVER (PARTITION BY conv_id) AS conv_turns,
         SUM(CASE WHEN role = 'assistant' THEN clen
                  ELSE 0 END) OVER (PARTITION BY conv_id) AS tchars
  FROM p)
SELECT CAST(conv_id AS BIGINT) AS conv_id,
       CAST(conv_turns AS BIGINT) AS n_turns,
       CAST(conv_chars AS BIGINT) AS n_chars,
       CAST(tchars AS BIGINT) AS trainable_chars,
       CAST(tchars * 10000 // GREATEST(conv_chars, 1) AS BIGINT)
         AS trainable_pct_e4,
       CAST(turn_idx AS BIGINT) AS turn_idx,
       role,
       CAST(off + head AS BIGINT) AS span_start,
       CAST(off + head + clen AS BIGINT) AS span_end,
       (role = 'assistant') AS trainable
FROM o
"""


@register("sft_render_chat_spans", _SFT_SPANS_ORACLE)
def sft_render_chat_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat rendering + loss-mask spans (functions/sft.py
    render_chat composed with trainable_char_stats), over turns
    derived deterministically from documents (conv = doc_id % 97,
    turn order = doc_id, alternating user/assistant roles, content =
    the first 120 chars). One span row per turn, carrying the
    conversation-grain totals: the oracle replays the pinned template
    ('<|' || role || '|>\\n' || content || '\\n') as pure length
    arithmetic -- running piece-length sums for offsets, integer
    fixed-point for the trainable ratio (numerator < 2^53 and the true
    ratio's distance from any integer is >= 1/n_chars >> double
    rounding error, so Spark's truncating double-division cast equals
    DuckDB's integer division; same argument as the sampler family).
    The render/slice-back property itself is pytest-pinned
    (test_sft.py); this row drives the offset math cross-engine."""
    from .functions.sft import render_chat, trainable_char_stats

    docs = load_table(spark, sf_dir, "documents")
    turns = docs.select(
        (F.col("doc_id") % 97).alias("conv_id"),
        F.col("doc_id").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.substring("text", 1, 120).alias("content"),
    )
    # pin: the rendered frame feeds BOTH the stats aggregation and the
    # join's left side -- unpinned, the collect_list + span-offset
    # aggregate lineage ran twice per action (r16, guide section 2.4)
    rendered = render_chat(turns).localCheckpoint(eager=False)
    stats = trainable_char_stats(rendered).select(
        "conv_id", "trainable_chars", "trainable_pct_e4"
    )
    return (
        rendered.join(stats, "conv_id")
        .select(
            "conv_id",
            "n_turns",
            "n_chars",
            "trainable_chars",
            "trainable_pct_e4",
            F.explode("spans").alias("s"),
        )
        .select(
            "conv_id",
            "n_turns",
            "n_chars",
            "trainable_chars",
            "trainable_pct_e4",
            F.col("s.turn_idx").alias("turn_idx"),
            F.col("s.role").alias("role"),
            F.col("s.start").alias("span_start"),
            F.col("s.end").alias("span_end"),
            F.col("s.trainable").alias("trainable"),
        )
    )


_EVAL_SCORES_ORACLE = r"""
WITH rows_in AS (
  SELECT doc_id AS example_id,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE substr(text, 1, 80) END AS prediction,
         CASE WHEN doc_id % 3 = 0 THEN substr(text, 21, 80)
              ELSE substr(text, 1, 80) END AS reference
  FROM documents),
norm AS (
  SELECT example_id,
         prediction IS NULL AS pred_missing,
         trim(regexp_replace(regexp_replace(lower(coalesce(prediction, '')),
              '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS p,
         trim(regexp_replace(regexp_replace(lower(coalesce(reference, '')),
              '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS r
  FROM rows_in),
pc AS (
  SELECT example_id, w, COUNT(*) AS np
  FROM (SELECT example_id, unnest(string_split(p, ' ')) AS w FROM norm)
  WHERE w <> '' GROUP BY example_id, w),
rc AS (
  SELECT example_id, w, COUNT(*) AS nr
  FROM (SELECT example_id, unnest(string_split(r, ' ')) AS w FROM norm)
  WHERE w <> '' GROUP BY example_id, w),
common AS (
  SELECT pc.example_id, SUM(LEAST(np, nr)) AS n_common
  FROM pc JOIN rc ON pc.example_id = rc.example_id AND pc.w = rc.w
  GROUP BY pc.example_id),
tot AS (
  SELECT n.example_id, n.pred_missing,
         (n.p = n.r) AS exact_match,
         CASE WHEN n.p = '' THEN 0
              ELSE len(string_split(n.p, ' ')) END AS n_pred_tokens,
         CASE WHEN n.r = '' THEN 0
              ELSE len(string_split(n.r, ' ')) END AS n_ref_tokens,
         COALESCE(c.n_common, 0) AS n_common_tokens
  FROM norm n LEFT JOIN common c ON n.example_id = c.example_id)
SELECT CAST(example_id AS BIGINT) AS example_id,
       exact_match, pred_missing,
       CAST(n_pred_tokens AS BIGINT) AS n_pred_tokens,
       CAST(n_ref_tokens AS BIGINT) AS n_ref_tokens,
       CAST(n_common_tokens AS BIGINT) AS n_common_tokens,
       CAST(CASE WHEN n_pred_tokens + n_ref_tokens = 0 THEN 1000000
            ELSE (2 * n_common_tokens * 1000000)
                 // (n_pred_tokens + n_ref_tokens) END AS BIGINT) AS f1_e6
FROM tot
"""


@register("eval_scores_report", _EVAL_SCORES_ORACLE)
def eval_scores_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD-convention eval scoring (functions/evalscore.py
    eval_scores): normalized exact match + multiset token F1 over
    (prediction, reference) pairs derived deterministically from
    documents -- every 3rd reference is shifted 20 chars (partial
    overlap), every 11th prediction is NULL (exercising the r11
    missing-generation convention: scores 0, flagged pred_missing).
    The surface is all integer counts; f1 re-emits as fixed-point e6
    via INTEGER division on the exact token counts (Spark DIV ==
    DuckDB //), with the documented both-empty := 1.0 case. The
    multiset intersection itself is hypothesis-pinned against a
    Python Counter reference (test_evalscore.py)."""
    from .functions.evalscore import eval_scores

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        F.col("doc_id").alias("example_id"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.substring("text", 1, 80))
        .alias("prediction"),
        F.when(F.col("doc_id") % 3 == 0, F.substring("text", 21, 80))
        .otherwise(F.substring("text", 1, 80))
        .alias("reference"),
    )
    scored = eval_scores(rows)
    both_empty = (F.col("n_pred_tokens") + F.col("n_ref_tokens")) == 0
    return scored.select(
        "example_id",
        "exact_match",
        "pred_missing",
        "n_pred_tokens",
        "n_ref_tokens",
        "n_common_tokens",
        F.when(both_empty, F.lit(1000000))
        .otherwise(
            F.expr(
                "(2 * n_common_tokens * 1000000)"
                " DIV (n_pred_tokens + n_ref_tokens)"
            )
        )
        .cast("bigint")
        .alias("f1_e6"),
    )


_DATACARD_DRIFT_ORACLE = r"""
WITH b AS (
  SELECT doc_id, source, lang, text,
         (text IS NOT NULL AND length(trim(text)) > 0) AS nonempty,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_word_chars,
         len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
         regexp_split_to_array(text, '\n') AS lines,
         regexp_split_to_array(trim(text), '\s+') AS words,
         lower(text) AS low
  FROM documents),
c AS (
  SELECT doc_id, source, lang, text, nonempty, n_words, n_word_chars,
         n_symbols,
         len(lines) AS n_lines,
         len(list_filter(lines, ln -> regexp_matches(trim(ln), '^[-*•]'))) AS n_bullet,
         len(list_filter(lines, ln -> regexp_matches(rtrim(ln), '\.\.\.$'))) AS n_ell,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
         (CASE WHEN regexp_matches(low, '\bthe\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bbe\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bto\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bof\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\band\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bthat\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bhave\b') THEN 1 ELSE 0 END
        + CASE WHEN regexp_matches(low, '\bwith\b') THEN 1 ELSE 0 END) AS n_stop
  FROM b),
v AS (
  SELECT *,
         (n_words >= 50 AND n_words <= 100000
          AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
          AND 10 * n_symbols <= n_words AND 10 * n_bullet <= 9 * n_lines
          AND 10 * n_ell <= 3 * n_lines AND 5 * n_alpha_words >= 4 * n_words
          AND n_stop >= 1) AS gopher_pass
  FROM c),
card_old AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(CASE WHEN nonempty THEN 1 END)
              - COUNT(DISTINCT CASE WHEN nonempty THEN text END)
              AS BIGINT) AS n_exact_dups,
         CAST(COUNT(CASE WHEN gopher_pass THEN 1 END) AS BIGINT)
           AS n_gopher_pass,
         CAST(SUM(CASE WHEN nonempty THEN n_words ELSE 0 END) AS BIGINT)
           AS total_words
  FROM v WHERE doc_id % 7 <> 0 GROUP BY source, lang),
card_new AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(CASE WHEN nonempty THEN 1 END)
              - COUNT(DISTINCT CASE WHEN nonempty THEN text END)
              AS BIGINT) AS n_exact_dups,
         CAST(COUNT(CASE WHEN gopher_pass THEN 1 END) AS BIGINT)
           AS n_gopher_pass,
         CAST(SUM(CASE WHEN nonempty THEN n_words ELSE 0 END) AS BIGINT)
           AS total_words
  FROM v WHERE source <> 'src0' GROUP BY source, lang)
SELECT COALESCE(o.source, n.source) AS source,
       COALESCE(o.lang, n.lang) AS lang,
       o.n_docs AS n_docs_old, o.n_exact_dups AS n_exact_dups_old,
       o.n_gopher_pass AS n_gopher_pass_old, o.total_words AS total_words_old,
       n.n_docs AS n_docs_new, n.n_exact_dups AS n_exact_dups_new,
       n.n_gopher_pass AS n_gopher_pass_new, n.total_words AS total_words_new,
       CAST(COALESCE(n.n_docs, 0) - COALESCE(o.n_docs, 0) AS BIGINT)
         AS n_docs_delta,
       CAST(COALESCE(n.n_exact_dups, 0) - COALESCE(o.n_exact_dups, 0) AS BIGINT)
         AS n_exact_dups_delta,
       CAST(COALESCE(n.n_gopher_pass, 0) - COALESCE(o.n_gopher_pass, 0)
            AS BIGINT) AS n_gopher_pass_delta,
       CAST(COALESCE(n.total_words, 0) - COALESCE(o.total_words, 0) AS BIGINT)
         AS total_words_delta,
       ((o.n_docs IS NULL OR n.n_docs IS NULL)
        OR 2 * ABS(COALESCE(n.n_docs, 0) - COALESCE(o.n_docs, 0))
           > GREATEST(COALESCE(o.n_docs, 0), 1)
        OR 2 * ABS(COALESCE(n.n_exact_dups, 0) - COALESCE(o.n_exact_dups, 0))
           > GREATEST(COALESCE(o.n_exact_dups, 0), 1)
        OR 2 * ABS(COALESCE(n.n_gopher_pass, 0) - COALESCE(o.n_gopher_pass, 0))
           > GREATEST(COALESCE(o.n_gopher_pass, 0), 1)) AS drifted
FROM card_old o FULL OUTER JOIN card_new n
  ON o.source = n.source AND o.lang = n.lang
"""


@register("corpus_datacard_drift", _DATACARD_DRIFT_ORACLE)
def corpus_datacard_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition-drift report between two corpus versions
    (functions/datacard.py datacard_drift): documents split into an
    'old' window (doc_id % 7 <> 0) and a 'new' window (source <>
    'src0' -- so one whole source disappears, exercising the
    one-side-missing always-flags rule). Integer old/new/delta fields
    for the four load-bearing card columns plus the boolean drifted
    flag; the oracle rewrites the function's rel_threshold=0.5 double
    comparison as the exactly-equivalent integer form 2*|delta| >
    greatest(old, 1). min_stopwords=1 as in corpus_datacard."""
    from .functions.datacard import datacard_drift

    docs = load_table(spark, sf_dir, "documents")
    old_docs = docs.filter(F.col("doc_id") % 7 != 0)
    new_docs = docs.filter(F.col("source") != "src0")
    return datacard_drift(old_docs, new_docs, min_stopwords=1)


_DOREMI_ORACLE = r"""
WITH d AS (
  SELECT source AS domain,
         CAST(SUM(n_chars) % 7 AS DOUBLE) / 2 + 1 AS proxy_loss,
         CAST(SUM(doc_id) % 5 AS DOUBLE) / 2 + 1 AS ref_loss
  FROM documents GROUP BY source),
e AS (
  SELECT domain, GREATEST(proxy_loss - ref_loss, 0.0) AS excess FROM d),
z AS (
  SELECT domain, excess, exp(excess) AS raw,
         SUM(exp(excess)) OVER () AS zsum,
         COUNT(*) OVER () AS n
  FROM e)
SELECT domain,
       CAST(FLOOR(excess * 1000000) AS BIGINT) AS excess_e6,
       CAST(FLOOR((0.75 * raw / zsum + 0.25 / n) * 1000000000) AS BIGINT)
         AS weight_e9
FROM z
"""


@register("doremi_domain_weights", _DOREMI_ORACLE)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi exponentiated-gradient step (functions/sampling.py
    doremi_domain_weights; Xie et al. 2023, arXiv:2305.10429) over
    per-source losses derived deterministically from documents
    (half-integer excess values, so exp() sees the same few exact
    double arguments in both engines). Scaled-BIGINT emit per the r10
    designation: excess_e6 is exact (half-integers); weight_e9 is
    FLOOR on both sides (never a raw cast -- Spark truncates where
    DuckDB rounds). Boundary argument: the only cross-engine risk is
    a weight landing within the libm-exp/float-sum ulp spread (~1e-16
    absolute at these magnitudes) of a 1e-9 grid boundary; the pinned
    fixtures' minimum measured boundary distance is 0.049 grid units
    (~4.9e-11) at sf0.01 and 0.19 at sf0.001 -- a >= 5x10^5 safety
    factor -- and the domain count keeps the unordered double sum at
    20 terms. check_oracle green at BOTH SFs before registration."""
    from .functions.sampling import doremi_domain_weights as doremi

    docs = load_table(spark, sf_dir, "documents")
    losses = docs.groupBy(F.col("source").alias("domain")).agg(
        ((F.sum("n_chars") % 7).cast("double") / 2 + 1).alias("proxy_loss"),
        ((F.sum("doc_id") % 5).cast("double") / 2 + 1).alias("ref_loss"),
    )
    weights = doremi(losses, lr=1.0, smoothing=0.25)
    return weights.select(
        "domain",
        F.floor(F.col("excess_loss") * 1000000).cast("bigint").alias("excess_e6"),
        F.floor(F.col("weight") * 1000000000).cast("bigint").alias("weight_e9"),
    )


# ---------------------------------------------------------------------------
# Round-12 registrations (MID-order: outside the 50-row driver cap this
# round per the rotation note; each locally verified via
# tools/check_oracle.py at sf0.01 AND sf0.001 + a clean hard-error
# dtype_audit before registration; first driver rows due r13). The
# r11 VERDICT directives 2-3: oracle slots for the r11 session ops
# (NDV ledger, classifier training, semantic decontamination) and the
# designated r13 candidates (preference pairs, winnowing near-dup).
# ---------------------------------------------------------------------------

_NDV_BOUNDS_ORACLE = """
SELECT 'doc_id' AS col_name, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_exact,
       TRUE AS within_bounds
FROM documents
UNION ALL
SELECT 'lang', COUNT(DISTINCT lang), TRUE FROM documents
UNION ALL
SELECT 'source', COUNT(DISTINCT source), TRUE FROM documents
UNION ALL
SELECT 'n_chars', COUNT(DISTINCT n_chars), TRUE FROM documents
"""


@register("documents_ndv_ledger", _NDV_BOUNDS_ORACLE)
def documents_ndv_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-NDV ledger's merge math under the bounds-check
    oracle contract (events_value_quantile_sketch precedent; r11
    VERDICT directive 2): split documents into two disjoint halves,
    sketch each half per column (functions/sketch.py ndv_sketch_rows),
    register-max-merge the halves exactly as update_ndv_sketches does
    (hll_union_agg), and verify every merged estimate against the
    exact distinct count at the published HLL error bound.

    DuckDB cannot reproduce DataSketches register state, but it can
    state the CONTRACT: per column, (n_exact, within_bounds=TRUE)
    where within_bounds checks |estimate - exact| <= 5% * exact --
    3 standard deviations at lg_k=12 (rsd = 1.04 / 2^6 = 1.625%).
    The exact side lives ONLY in this verifier (one extra documents
    pass); production reads estimates from the sketch sidecar without
    ever rescanning the corpus. The split-then-merge shape is the
    point: a broken merge (register overwrite instead of max) would
    undercount the half not last written and blow the bound."""
    from .functions.sketch import ndv_estimates, ndv_sketch_rows

    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    halves = ndv_sketch_rows(docs.filter(F.col("doc_id") % 2 == 0), cols).unionByName(
        ndv_sketch_rows(docs.filter(F.col("doc_id") % 2 == 1), cols)
    )
    merged = halves.groupBy("col_name").agg(
        F.hll_union_agg("sketch", F.lit(True)).alias("sketch")
    )
    est = ndv_estimates(merged)
    exact = (
        docs.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col_name"),
                            F.col(c).cast("string").alias("value"),
                        )
                        for c in cols
                    ]
                )
            ).alias("p")
        )
        .select("p.col_name", "p.value")
        .filter(F.col("value").isNotNull())
        .groupBy("col_name")
        .agg(F.countDistinct("value").alias("n_exact"))
    )
    return est.join(exact, "col_name").select(
        "col_name",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("n_distinct") - F.col("n_exact"))
            <= F.col("n_exact") * F.lit(0.05)
        ).alias("within_bounds"),
    )


_TRAIN_CONTRACT_ORACLE = f"""
WITH toks AS ({_TOKS_SQL}),
tok AS (
    SELECT doc_id, lang = 'en' AS is_pos,
           ('0x' || substr(md5(w), 1, 8))::BIGINT % 4096 AS b
    FROM toks)
SELECT CAST(COUNT(DISTINCT CASE WHEN is_pos THEN doc_id END) AS BIGINT) AS n_pos,
       CAST(COUNT(DISTINCT CASE WHEN NOT is_pos THEN doc_id END) AS BIGINT) AS n_neg,
       CAST(COUNT(DISTINCT b) AS BIGINT) AS n_feature_buckets,
       CAST(4096 AS BIGINT) AS n_weight_rows,
       TRUE AS loss_nonincreasing,
       TRUE AS final_loss_below_chance
FROM tok
"""


@register("classifier_train_contract", _TRAIN_CONTRACT_ORACLE)
def classifier_train_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training under a contract
    oracle (r11 VERDICT directive 2): train the en-vs-rest quality
    classifier on documents (functions/selection.py
    train_linear_classifier, 4 full-batch iterations) and emit the
    verifiable one-row contract -- exact training-population and
    feature-space integers that DuckDB replays bit-for-bit (tokenized
    doc counts per class, distinct hashed feature buckets, the
    buckets-row weight table) plus the convergence booleans the
    training loop must satisfy (per-iteration losses nonincreasing;
    final loss below ln 2, the zero-model loss -- guaranteed by
    full-batch descent from w=0 on any non-degenerate fixture).

    EXACT WEIGHT PARITY IS DELIBERATELY NOT THE ORACLE: the gradient
    is an unordered double sum over docs fed through a nonlinear
    sigmoid iteration, so cross-engine bit-parity on a 1e-6 grid has
    irreducible rounding-boundary risk -- precisely the
    order-dependent-float class the r11 cross-SF sweep eliminated
    from the catalog. The exact-value check lives in pytest
    (test_classifier_training.py: 1e-9 parity against a pure-Python
    reference under controlled partitioning), the driver row verifies
    the feature plumbing and the training contract."""
    import math

    from .functions.selection import (
        prepare_classifier_features,
        train_linear_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize+hash pass (r15): the pinned feature matrix feeds the
    # training loop AND the contract aggregation below -- previously the
    # corpus was re-tokenized a second time through _token_stream for
    # the same distinct (doc, bucket) population (guide section 1.2:
    # don't compute things twice). lang is non-NULL in every SF fixture,
    # so feats' (__y == 1.0) partition IS the is_pos token population.
    feats = prepare_classifier_features(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        buckets=4096,
    )
    weights, losses = train_linear_classifier(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        iters=4,
        features=feats,
    )
    n_weight_rows = weights.count()  # <= buckets rows by construction
    mono = all(b <= a for a, b in zip(losses, losses[1:]))
    below = losses[-1] < math.log(2.0)
    return feats.agg(
        F.countDistinct(
            F.when(F.col("__y") == 1.0, F.col("doc_id"))
        ).alias("n_pos"),
        F.countDistinct(
            F.when(F.col("__y") == 0.0, F.col("doc_id"))
        ).alias("n_neg"),
        F.countDistinct("b").alias("n_feature_buckets"),
    ).select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.col("n_feature_buckets").cast("bigint").alias("n_feature_buckets"),
        F.lit(n_weight_rows).cast("bigint").alias("n_weight_rows"),
        F.lit(bool(mono)).alias("loss_nonincreasing"),
        F.lit(bool(below)).alias("final_loss_below_chance"),
    )


_CHUNK_IX_CACHE: dict[tuple, object] = {}


def _chunk_ix_wh(spark: SparkSession, sf_dir: str):
    """The persisted chunk-level semantic-search index over documents
    (semsearch.build_chunk_search_index, library defaults: 64/48 word
    windows, 64 hashed dims, kmeans stride 50), built once per
    (session, dataset) into a scratch warehouse -- the same
    build-once/probe-many accounting as _ivf_wh (the one-time build
    lands in the bench cold pass)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    wh = _CHUNK_IX_CACHE.get(key)
    if wh is None:
        from .functions.semsearch import build_chunk_search_index
        from .warehouse import Warehouse

        wh = Warehouse(spark, _scratch_dir("chix_"))
        build_chunk_search_index(wh, load_table(spark, sf_dir, "documents"), "chix")
        _CHUNK_IX_CACHE[key] = wh
    return wh


# The replay: chunk windows (the documents_chunked_windows shape at
# 64/48), the hashed-TF-IDF embedding fit on the CHUNK corpus (the
# documents_hashed_embedding shape at chunk grain, 1e-6 quantized),
# eval texts embedded under the FROZEN chunk-corpus IDF (LEFT JOIN
# dfreq: missing dims take the smoothed default ln(n+1)+1), and the
# exact-int64 quantized cosine of the ANN family. All-zero-quantizing
# vectors yield 0/0 -> NULL in DuckDB and are dropped by the Arrow
# kernel -- both sides exclude them.
_SEMDECON_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (SELECT doc_id, w,
             unnest(generate_series(0,
                 greatest(1, CAST(ceil((len(w) - 64) / 48.0) AS BIGINT)
                             + 1) - 1)) AS chunk_id
      FROM w),
chunks AS (
    SELECT doc_id, chunk_id, doc_id * 1048576 + chunk_id AS ck,
           array_to_string(list_slice(w, chunk_id * 48 + 1,
                                      chunk_id * 48 + 64), ' ') AS chunk_text
    FROM c),
ctoks AS (
    SELECT ck, unnest(list_filter(regexp_split_to_array(trim(
               regexp_replace(lower(chunk_text), '[^a-z0-9]+', ' ', 'g')),
               '\\s+'), x -> x <> '')) AS word
    FROM chunks),
cm AS (
    SELECT ck, hv % 64 AS dim, SUM(((hv >> 15) % 2) * 2 - 1) AS tfs
    FROM (SELECT ck, ('0x' || substr(md5(word), 1, 8))::BIGINT AS hv FROM ctoks)
    GROUP BY 1, 2),
dfreq AS (SELECT dim, COUNT(*) AS df FROM cm GROUP BY dim),
nd AS (SELECT COUNT(DISTINCT ck) AS n FROM cm),
cw AS (SELECT cm.ck, cm.dim,
              CAST(cm.tfs AS DOUBLE)
                  * (ln((nd.n + 1) / CAST(dfreq.df + 1 AS DOUBLE)) + 1.0) AS v
       FROM cm JOIN dfreq USING (dim) CROSS JOIN nd),
cn AS (SELECT ck, sqrt(SUM(v * v)) AS nrm FROM cw GROUP BY ck),
cq AS (SELECT g.ck, g.dim,
              CAST(ROUND(COALESCE(cw.v / NULLIF(cn.nrm, 0), 0) * 1000000, 0)
                   AS BIGINT) AS q
       FROM (SELECT k.ck, d.dim
             FROM (SELECT DISTINCT ck FROM cm) k
             CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) d) g
       JOIN cn ON g.ck = cn.ck
       LEFT JOIN cw ON g.ck = cw.ck AND g.dim = cw.dim),
cnorm AS (SELECT ck, SUM(q * q) AS qn FROM cq GROUP BY ck),
etoks AS (
    SELECT doc_id AS eval_id, unnest(list_filter(regexp_split_to_array(trim(
               regexp_replace(lower(chunk_text), '[^a-z0-9]+', ' ', 'g')),
               '\\s+'), x -> x <> '')) AS word
    FROM chunks WHERE chunk_id = 0 AND doc_id % 50 = 0),
em AS (
    SELECT eval_id, hv % 64 AS dim, SUM(((hv >> 15) % 2) * 2 - 1) AS tfs
    FROM (SELECT eval_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS hv
          FROM etoks)
    GROUP BY 1, 2),
ew AS (SELECT em.eval_id, em.dim,
              CAST(em.tfs AS DOUBLE)
                  * (ln((nd.n + 1) / CAST(COALESCE(dfreq.df, 0) + 1 AS DOUBLE))
                     + 1.0) AS v
       FROM em LEFT JOIN dfreq USING (dim) CROSS JOIN nd),
en AS (SELECT eval_id, sqrt(SUM(v * v)) AS nrm FROM ew GROUP BY eval_id),
eq AS (SELECT ew.eval_id, ew.dim,
              CAST(ROUND(COALESCE(ew.v / NULLIF(en.nrm, 0), 0) * 1000000, 0)
                   AS BIGINT) AS q
       FROM ew JOIN en USING (eval_id)),
dots AS (
    SELECT e.eval_id, c.ck, SUM(e.q * c.q) AS dot
    FROM eq e JOIN cq c USING (dim)
    WHERE e.q <> 0 AND c.q <> 0
    GROUP BY 1, 2),
enorm AS (SELECT eval_id, SUM(q * q) AS qn FROM eq GROUP BY eval_id),
flags AS (
    SELECT d.eval_id, d.ck,
           CAST(d.dot AS DOUBLE) /
               (sqrt(CAST(ev.qn AS DOUBLE)) * sqrt(CAST(cv.qn AS DOUBLE))) AS cosine
    FROM dots d
    JOIN enorm ev USING (eval_id)
    JOIN cnorm cv ON d.ck = cv.ck
    WHERE ev.qn > 0 AND cv.qn > 0)
SELECT eval_id, CAST(ck // 1048576 AS BIGINT) AS doc_id,
       CAST(ck % 1048576 AS BIGINT) AS chunk_id, cosine
FROM flags WHERE cosine >= 0.85
"""


@register("semantic_decontaminate_flags", _SEMDECON_ORACLE)
def semantic_decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic eval-set decontamination against the persisted chunk
    index (functions/semsearch.py semantic_decontaminate; r11 VERDICT
    directive 2): eval texts = the first 64/48-word chunk of every
    50th document (verbatim leaks by construction -- each flags at
    least its own source chunk at cosine ~1.0), searched against the
    full chunk index with n_probes > n_cells so the IVF probe is
    EXACTLY brute force and the flag set is the complete
    cosine >= 0.85 threshold set -- the same every-cell-probed pin
    ann_ivf_index_search uses. The cosine is the ANN family's exact
    quantized-int64 contract (1e-6 grid coordinates, int dot, IEEE
    dot/(sqrt*sqrt)), so the value itself cross-checks; the recall
    knob's PRUNED behavior keeps its measured-curve coverage in
    pytest/SCALE.md (probes=2 floor >= 0.9)."""
    from .functions.semsearch import semantic_decontaminate
    from .functions.text import chunk_documents

    wh = _chunk_ix_wh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    ev = (
        chunk_documents(docs, 64, 48)
        .filter((F.col("doc_id") % 50 == 0) & (F.col("chunk_id") == 0))
        .select(F.col("doc_id").alias("eval_id"), "chunk_text")
    )
    return semantic_decontaminate(
        wh, "chix", ev,
        threshold=0.85, k=500, n_probes=1_000_000,
        eval_id_col="eval_id", text_col="chunk_text",
    ).select(
        F.col("eval_id").cast("bigint").alias("eval_id"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "cosine",
    )


_PREFERENCE_ORACLE = """
WITH r AS (
    SELECT o_custkey AS prompt_id, o_orderkey AS response_id,
           o_totalprice AS score
    FROM orders),
pairs AS (
    SELECT a.prompt_id, a.response_id AS chosen_id,
           b.response_id AS rejected_id,
           a.score AS chosen_score, b.score AS rejected_score,
           a.score - b.score AS score_gap
    FROM r a JOIN r b ON a.prompt_id = b.prompt_id
    WHERE a.score > b.score),
capped AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY prompt_id
        ORDER BY score_gap DESC, chosen_id, rejected_id) AS rn
    FROM pairs)
SELECT prompt_id, chosen_id, rejected_id,
       chosen_score, rejected_score, score_gap
FROM capped WHERE rn <= 8
"""


@register("preference_pairs_orders", _PREFERENCE_ORACLE)
def preference_pairs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair assembly (functions/preference.py
    preference_pairs, all_pairs strategy; the r11 note's designated
    r13 candidate): orders as a ratings table (prompt = customer,
    response = order, score = total price), every strictly-ordered
    pair kept gap-descending up to 8 per prompt. Fully deterministic
    cross-engine: scores are the SAME parquet doubles on both sides,
    so gaps are bit-identical IEEE subtractions and the cap window's
    total order (gap desc, chosen id, rejected id) resolves ties
    identically; zero-gap (tied) pairs never emit after the r12
    ADVICE fix -- strictness is part of the contract under test."""
    from .functions.preference import preference_pairs

    return preference_pairs(
        load_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("prompt_id"),
            F.col("o_orderkey").alias("response_id"),
            F.col("o_totalprice").alias("score"),
        ),
        strategy="all_pairs",
        max_pairs_per_prompt=8,
    )


# Winnowing near-dup replay at the operator defaults (k=16 grams,
# w=8 windows): the _WINNOW_ORACLE shape re-parameterized, the
# hot-bucket row_number cap, pair overlap counts, then the exact
# 5-shingle Jaccard verifier of the dedup_ngram_jaccard shape on
# whitespace-collapsed text. jaccard is an exact-int division --
# deterministic IEEE cross-engine.
_WINNOW_NEARDUP_ORACLE = r"""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nm
  FROM documents),
g AS (
  SELECT doc_id, u.pos,
         ('0x' || substr(md5(substr(nm, u.pos, 16)), 1, 8))::BIGINT AS h
  FROM n,
       LATERAL (SELECT unnest(generate_series(1, length(nm) - 15)) AS pos) u
  WHERE length(nm) >= 16),
k AS (
  SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key
  FROM g),
m AS (
  SELECT doc_id,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mk,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wn
  FROM k),
fps AS (
  SELECT DISTINCT doc_id, CAST(mk // 1048576 AS BIGINT) AS fp_hash
  FROM m WHERE wn = 8),
capped AS (
  SELECT doc_id, fp_hash,
         ROW_NUMBER() OVER (PARTITION BY fp_hash ORDER BY doc_id) AS rn
  FROM fps),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
  FROM (SELECT * FROM capped WHERE rn <= 256) a
  JOIN (SELECT * FROM capped WHERE rn <= 256) b
    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
sh AS (
  SELECT doc_id,
         list_distinct([substr(norm, i, 5)
             for i in range(1, greatest(length(norm) - 4, 1) + 1)]) AS sh
  FROM (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
        FROM documents))
SELECT cand.id_a, cand.id_b, CAST(cand.shared_fps AS BIGINT) AS shared_fps,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM cand JOIN sh a ON cand.id_a = a.doc_id
          JOIN sh b ON cand.id_b = b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
"""


@register("winnow_near_dup_pairs_docs", _WINNOW_NEARDUP_ORACLE)
def winnow_near_dup_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-candidates near-dup pairs with exact shingle-Jaccard
    verification (functions/text.py winnow_near_dup_pairs at the
    operator defaults; the r11 note's designated r13 candidate):
    MOSS fingerprints (k=16, w=8) -> hot-bucket-capped overlap join
    (>= 2 shared fingerprints) -> exact 5-shingle Jaccard >= 0.5.
    Everything the hash touches is exact integers except the final
    jaccard, an exact-int division (deterministic IEEE); the packed
    min-key, the cap's (fp_hash, doc_id) total order, and the overlap
    counts replay bit-for-bit."""
    from .functions.text import winnow_near_dup_pairs

    return winnow_near_dup_pairs(load_table(spark, sf_dir, "documents")).select(
        "id_a", "id_b",
        F.col("shared_fps").cast("bigint").alias("shared_fps"),
        "jaccard",
    )


# The image near-dup replay (registered r12, upgrading the r13
# candidacy note after the hex-slice byte replay proved byte-exact):
# synth image payloads (doc_id % 3 = 0, payload = UTF-8 text bytes),
# the locality-preserving stub grid (per-cell byte averages over
# hex-string slices), dHash bit assembly through HUGEINT with the
# signed-64 fold, then the pigeonhole chunk join with the hot-bucket
# row_number cap -- all exact integers end to end.
# ORACLE BOUNDARY (r12 ADVICE, fixed r13): this SQL always replays
# the STUB grid, so parity holds only on the stub path. Payloads
# whose bytes merely magic-sniff as an image ('BM'/'RIFF'/... text)
# now fall back to the stub after a failed PIL decode, so they match;
# a payload PIL can GENUINELY decode would hash real pixels on the
# Spark side and diverge -- impossible for synth_media_df payloads
# (UTF-8 text is never a valid encoded image), so the registered row
# is safe in any environment, Pillow installed or not. Empty
# payloads: both sides drop them (Spark emits NULL hashes, the SQL's
# n > 0 filter skips them) -- the aligned NULL-content convention.
_IMAGE_NEARDUP_ORACLE = """
WITH img AS (
  SELECT doc_id, encode(text) AS payload FROM documents WHERE doc_id % 3 = 0),
b AS (
  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n FROM img),
seg AS (
  SELECT doc_id, u.cell,
         (u.cell * n) // 72 AS lo,
         greatest(((u.cell + 1) * n) // 72, (u.cell * n) // 72 + 1) AS hi
  FROM b, LATERAL (SELECT unnest(range(0, 72)) AS cell) u
  WHERE n > 0),
bts AS (
  SELECT doc_id, cell, hi - lo AS cnt, unnest(generate_series(lo + 1, hi)) AS i
  FROM seg),
vals AS (
  SELECT b2.doc_id, b2.cell, b2.cnt,
         ('0x' || substr(b.hx, 2 * b2.i - 1, 2))::BIGINT AS v
  FROM bts b2 JOIN b ON b2.doc_id = b.doc_id),
grid AS (
  SELECT doc_id, cell, SUM(v) // ANY_VALUE(cnt) AS g
  FROM vals GROUP BY 1, 2),
gl AS (
  SELECT doc_id, list(g ORDER BY cell) AS g FROM grid GROUP BY doc_id),
dh AS (
  SELECT doc_id,
         list_sum([CASE WHEN g[(k // 8) * 9 + (k % 8) + 2]
                             > g[(k // 8) * 9 + (k % 8) + 1]
                        THEN CAST(1 AS HUGEINT) << k
                        ELSE CAST(0 AS HUGEINT) END
                   for k in range(0, 64)]) AS hu
  FROM gl),
hashes AS (
  SELECT doc_id, hu,
         CAST(CASE WHEN hu >= CAST(1 AS HUGEINT) << 63
                   THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END
              AS BIGINT) AS dhash
  FROM dh),
chunks AS (
  SELECT doc_id, dhash, u.pos,
         CAST((hu >> (u.pos * 8)) & 255 AS BIGINT) AS val
  FROM hashes, LATERAL (SELECT unnest(range(0, 8)) AS pos) u),
capped AS (
  SELECT doc_id, dhash, pos, val,
         ROW_NUMBER() OVER (PARTITION BY pos, val ORDER BY doc_id) AS rn
  FROM chunks)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
FROM (SELECT * FROM capped WHERE rn <= 256) a
JOIN (SELECT * FROM capped WHERE rn <= 256) b
  ON a.pos = b.pos AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
"""


@register("image_near_dup_pairs_docs", _IMAGE_NEARDUP_ORACLE)
def image_near_dup_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs (functions/multimodal.py
    perceptual_hashes -> image_near_dup_pairs over the deterministic
    stub codec; the shared dedup.hamming_chunk_pairs pigeonhole join
    with the default hot-bucket cap): hamming(dhash) <= 6 over the
    synthetic image third of documents. Every stage is exact integer
    -- the stub grid is per-cell byte averaging (replayed in DuckDB as
    hex-string 2-char slices), dHash is pure comparisons, and the cap
    rides the (pos, val, doc_id) total order -- so the whole operator
    hash-matches, stub-codec precedent multimodal_features."""
    from .functions.multimodal import image_near_dup_pairs, synth_media_df

    docs = load_table(spark, sf_dir, "documents")
    media = synth_media_df(docs).filter(F.col("media_type") == "image")
    return image_near_dup_pairs(media, max_hamming=6)


# The audio near-dup replay (registered r13, executing the r12 note's
# designated candidacy; DENSIFIED r14 per the r13 VERDICT's What's
# wrong #1): the image_near_dup_pairs_docs replay with a 65x1
# energy-envelope grid instead of 9x8 -- same hex-slice byte averages
# (the Haitsma-Kalker-shape envelope under the stub codec), same dHash
# comparisons folded through HUGEINT to signed-64, same capped
# pigeonhole chunk join -- all exact integers end to end.
# Synth audio payloads are the doc_id % 3 = 1 third of documents PLUS
# planted envelope-preserving re-encode twins derived in-query (the
# video row's derive-inside-the-query precedent): every doc_id % 30 =
# 1 document gets a twin at media_id = doc_id + 10,000,000 whose text
# has its middle 8 characters replaced by 'ZZZZZZZZ'. A same-LENGTH
# mid-edit keeps all 65 segment boundaries identical and perturbs
# only the 1-2 envelope cells covering the edit (measured: all 167
# sf0.01 twins land at hamming <= 5, median 1 -- an APPENDED tail
# shifts every boundary and lands at median hamming 30, useless), so
# the oracle now exercises real collisions at every SF (17 planted
# pairs at sf0.001/sf0.01, 167 at sf0.1) instead of the prior 0/0/1.
# Empty payloads: both sides drop them (Spark emits NULL fingerprints,
# the SQL's n > 0 filter skips them) -- the aligned NULL-content
# convention shared with the image and video families.
_AUDIO_NEARDUP_ORACLE = """
WITH aud AS (
  SELECT doc_id, encode(text) AS payload FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id + 10000000,
         encode(substr(text, 1, length(text) // 2) || 'ZZZZZZZZ' ||
                substr(text, length(text) // 2 + 9))
  FROM documents WHERE doc_id % 30 = 1),
b AS (
  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n FROM aud),
seg AS (
  SELECT doc_id, u.cell,
         (u.cell * n) // 65 AS lo,
         greatest(((u.cell + 1) * n) // 65, (u.cell * n) // 65 + 1) AS hi
  FROM b, LATERAL (SELECT unnest(range(0, 65)) AS cell) u
  WHERE n > 0),
bts AS (
  SELECT doc_id, cell, hi - lo AS cnt, unnest(generate_series(lo + 1, hi)) AS i
  FROM seg),
vals AS (
  SELECT b2.doc_id, b2.cell, b2.cnt,
         ('0x' || substr(b.hx, 2 * b2.i - 1, 2))::BIGINT AS v
  FROM bts b2 JOIN b ON b2.doc_id = b.doc_id),
grid AS (
  SELECT doc_id, cell, SUM(v) // ANY_VALUE(cnt) AS g
  FROM vals GROUP BY 1, 2),
gl AS (
  SELECT doc_id, list(g ORDER BY cell) AS g FROM grid GROUP BY doc_id),
dh AS (
  SELECT doc_id,
         list_sum([CASE WHEN g[k + 2] > g[k + 1]
                        THEN CAST(1 AS HUGEINT) << k
                        ELSE CAST(0 AS HUGEINT) END
                   for k in range(0, 64)]) AS hu
  FROM gl),
hashes AS (
  SELECT doc_id, hu,
         CAST(CASE WHEN hu >= CAST(1 AS HUGEINT) << 63
                   THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END
              AS BIGINT) AS afp
  FROM dh),
chunks AS (
  SELECT doc_id, afp, u.pos,
         CAST((hu >> (u.pos * 8)) & 255 AS BIGINT) AS val
  FROM hashes, LATERAL (SELECT unnest(range(0, 8)) AS pos) u),
capped AS (
  SELECT doc_id, afp, pos, val,
         ROW_NUMBER() OVER (PARTITION BY pos, val ORDER BY doc_id) AS rn
  FROM chunks)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
FROM (SELECT * FROM capped WHERE rn <= 256) a
JOIN (SELECT * FROM capped WHERE rn <= 256) b
  ON a.pos = b.pos AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 6
"""


@register("audio_near_dup_pairs_docs", _AUDIO_NEARDUP_ORACLE)
def audio_near_dup_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint near-dup pairs (functions/multimodal.py
    audio_fingerprints -> audio_near_dup_pairs over the deterministic
    stub decode seam; the shared dedup.hamming_chunk_pairs pigeonhole
    join with the default hot-bucket cap): hamming(afp) <= 6 over the
    synthetic audio third of documents plus planted envelope-preserving
    re-encode twins (every doc_id % 30 = 1 document, twin media_id =
    doc_id + 10,000,000, middle 8 characters replaced by 'ZZZZZZZZ' --
    a same-length mid-edit keeps the 65 segment boundaries fixed so
    the twin collides with its original at hamming <= 5; r13 VERDICT
    What's wrong #1, densified so the replay exercises collisions at
    every SF). The fingerprint is the Haitsma-Kalker energy-difference
    shape -- dHash on a 65-point envelope -- and every stage is exact
    integer (segment-average envelope replayed as hex-string 2-char
    slices, sign-bit assembly through HUGEINT, the (pos, val,
    media_id) capped total order), so the whole operator
    hash-matches, precedent image_near_dup_pairs_docs."""
    from .functions.multimodal import audio_near_dup_pairs, synth_media_df

    docs = load_table(spark, sf_dir, "documents")
    base = synth_media_df(docs).filter(F.col("media_type") == "audio")
    twins = docs.filter(F.col("doc_id") % 30 == 1).select(
        (F.col("doc_id") + F.lit(10_000_000)).cast("long").alias("media_id"),
        F.lit("audio").alias("media_type"),
        F.encode(
            F.concat(
                F.expr("substring(text, 1, cast(length(text) / 2 as int))"),
                F.lit("ZZZZZZZZ"),
                F.expr("substring(text, cast(length(text) / 2 as int) + 9)"),
            ),
            "UTF-8",
        ).alias("payload"),
        F.lit(None).cast("string").alias("meta"),
    )
    return audio_near_dup_pairs(base.unionByName(twins), max_hamming=6)


# The video near-dup replay (registered r13, closing the r12 VERDICT's
# name-the-slot-or-the-exclusion item): frame-grain perceptual hashes
# over packed (video, frame) keys with evidence-count verdicts -- the
# image SQL plus a frame explode and the shared-frames rollup, all
# exact integers. Per video (doc_id % 3 = 2, payload non-empty):
# k = min(1 + n % 120, 16) evenly-sliced frames (the stub decoder's
# n_frames through the video_frame_hashes sampling rule), each frame's
# contiguous byte slice rendered to the 9x8 segment-average grid and
# dHashed exactly like the image replay; frame keys packed as
# media_id * 2^20 + frame_no ride the capped pigeonhole join; pairs
# decode back to videos, same-video matches drop, and a video pair is
# a near-dup when >= 2 DISTINCT frame pairs agree within hamming 6.
# min_spread stays 0 (every frame kept) so the replay covers the
# operator's default configuration.
_VIDEO_NEARDUP_ORACLE = """
WITH vid AS (
  SELECT doc_id, encode(text) AS payload FROM documents WHERE doc_id % 3 = 2),
b AS (
  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n
  FROM vid WHERE octet_length(payload) > 0),
fr AS (
  SELECT doc_id, n, least(1 + n % 120, 16) AS k, u.f
  FROM b, LATERAL (SELECT unnest(range(0, 16)) AS f) u
  WHERE u.f < least(1 + n % 120, 16)),
sl AS (
  SELECT doc_id, f,
         (f * n) // k AS flo,
         greatest(((f + 1) * n) // k, (f * n) // k + 1) AS fhi
  FROM fr),
seg AS (
  SELECT doc_id, f, flo, u.cell,
         (u.cell * (fhi - flo)) // 72 AS lo,
         greatest(((u.cell + 1) * (fhi - flo)) // 72,
                  (u.cell * (fhi - flo)) // 72 + 1) AS hi
  FROM sl, LATERAL (SELECT unnest(range(0, 72)) AS cell) u),
bts AS (
  SELECT doc_id, f, cell, hi - lo AS cnt,
         unnest(generate_series(flo + lo + 1, flo + hi)) AS i
  FROM seg),
vals AS (
  SELECT b2.doc_id, b2.f, b2.cell, b2.cnt,
         ('0x' || substr(b.hx, 2 * b2.i - 1, 2))::BIGINT AS v
  FROM bts b2 JOIN b ON b2.doc_id = b.doc_id),
grid AS (
  SELECT doc_id, f, cell, SUM(v) // ANY_VALUE(cnt) AS g
  FROM vals GROUP BY 1, 2, 3),
gl AS (
  SELECT doc_id, f, list(g ORDER BY cell) AS g FROM grid GROUP BY doc_id, f),
dh AS (
  SELECT doc_id, f,
         list_sum([CASE WHEN g[(k // 8) * 9 + (k % 8) + 2]
                             > g[(k // 8) * 9 + (k % 8) + 1]
                        THEN CAST(1 AS HUGEINT) << k
                        ELSE CAST(0 AS HUGEINT) END
                   for k in range(0, 64)]) AS hu
  FROM gl),
hashes AS (
  SELECT doc_id * 1048576 + f AS fk, hu,
         CAST(CASE WHEN hu >= CAST(1 AS HUGEINT) << 63
                   THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END
              AS BIGINT) AS fhash
  FROM dh),
chunks AS (
  SELECT fk, fhash, u.pos,
         CAST((hu >> (u.pos * 8)) & 255 AS BIGINT) AS val
  FROM hashes, LATERAL (SELECT unnest(range(0, 8)) AS pos) u),
capped AS (
  SELECT fk, fhash, pos, val,
         ROW_NUMBER() OVER (PARTITION BY pos, val ORDER BY fk) AS rn
  FROM chunks),
fpairs AS (
  SELECT DISTINCT a.fk AS fka, b.fk AS fkb
  FROM (SELECT * FROM capped WHERE rn <= 256) a
  JOIN (SELECT * FROM capped WHERE rn <= 256) b
    ON a.pos = b.pos AND a.val = b.val AND a.fk < b.fk
  WHERE bit_count(xor(a.fhash, b.fhash)) <= 6),
vpairs AS (
  SELECT least(fka // 1048576, fkb // 1048576) AS id_a,
         greatest(fka // 1048576, fkb // 1048576) AS id_b
  FROM fpairs
  WHERE fka // 1048576 <> fkb // 1048576)
SELECT id_a, id_b, COUNT(*) AS shared_frames
FROM vpairs GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


@register("video_near_dup_pairs_docs", _VIDEO_NEARDUP_ORACLE)
def video_near_dup_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs (functions/multimodal.py video_frame_hashes
    -> video_near_dup_pairs at the operator defaults): >= 2 distinct
    frame pairs within hamming 6 over the synthetic video third of
    documents, frame hashes riding packed (video, frame) keys through
    the shared capped pigeonhole join -- never a frame x frame cross.
    Exact-integer end to end: the frame sampling rule (min(1 + n %
    120, 16) evenly-sliced frames), the per-frame segment-average
    grid, the dHash comparisons, the packed-key total order under the
    cap, and the final COUNT of distinct frame-pair evidence all
    replay bit-for-bit in DuckDB; precedent
    image_near_dup_pairs_docs."""
    from .functions.multimodal import synth_media_df, video_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    media = synth_media_df(docs).filter(F.col("media_type") == "video")
    return video_near_dup_pairs(media)


# The unified media hash kernel replay (registered r13, the third
# mid-order registration -- matched by events_hourly_rollup in
# _NEXT_RETIREMENT_CANDIDATES): multimodal.media_hash_rows is the
# media landing zone's ONE-PASS hash kernel (streaming/jobs.py
# media_ingest_apply persists exactly these rows as its phash ledger
# sidecar), so driver-verifying it verifies the zone's signature
# surface. The SQL is the mechanical union of the three proven
# per-family replays: the image 9x8 grid dHash, the audio 65x1
# envelope fingerprint, and the video frame-grain dHash -- each
# byte-exact (hex-slice segment averages, HUGEINT bit assembly,
# signed-64 fold), emitted as (media_id, media_type, frame_no, mhash).
# Empty payloads emit no row on both sides (the shared NULL-content
# convention).
_MEDIA_HASH_ROWS_ORACLE = """
WITH img AS (
  SELECT doc_id, encode(text) AS payload FROM documents WHERE doc_id % 3 = 0),
ib AS (
  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n FROM img),
iseg AS (
  SELECT doc_id, u.cell,
         (u.cell * n) // 72 AS lo,
         greatest(((u.cell + 1) * n) // 72, (u.cell * n) // 72 + 1) AS hi
  FROM ib, LATERAL (SELECT unnest(range(0, 72)) AS cell) u
  WHERE n > 0),
ibts AS (
  SELECT doc_id, cell, hi - lo AS cnt, unnest(generate_series(lo + 1, hi)) AS i
  FROM iseg),
ivals AS (
  SELECT b2.doc_id, b2.cell, b2.cnt,
         ('0x' || substr(b.hx, 2 * b2.i - 1, 2))::BIGINT AS v
  FROM ibts b2 JOIN ib b ON b2.doc_id = b.doc_id),
igrid AS (
  SELECT doc_id, cell, SUM(v) // ANY_VALUE(cnt) AS g
  FROM ivals GROUP BY 1, 2),
igl AS (
  SELECT doc_id, list(g ORDER BY cell) AS g FROM igrid GROUP BY doc_id),
idh AS (
  SELECT doc_id,
         list_sum([CASE WHEN g[(k // 8) * 9 + (k % 8) + 2]
                             > g[(k // 8) * 9 + (k % 8) + 1]
                        THEN CAST(1 AS HUGEINT) << k
                        ELSE CAST(0 AS HUGEINT) END
                   for k in range(0, 64)]) AS hu
  FROM igl),
ihash AS (
  SELECT doc_id AS media_id, 'image' AS media_type, 0 AS frame_no,
         CAST(CASE WHEN hu >= CAST(1 AS HUGEINT) << 63
                   THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END
              AS BIGINT) AS mhash
  FROM idh),
aud AS (
  SELECT doc_id, encode(text) AS payload FROM documents WHERE doc_id % 3 = 1),
ab AS (
  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n FROM aud),
aseg AS (
  SELECT doc_id, u.cell,
         (u.cell * n) // 65 AS lo,
         greatest(((u.cell + 1) * n) // 65, (u.cell * n) // 65 + 1) AS hi
  FROM ab, LATERAL (SELECT unnest(range(0, 65)) AS cell) u
  WHERE n > 0),
abts AS (
  SELECT doc_id, cell, hi - lo AS cnt, unnest(generate_series(lo + 1, hi)) AS i
  FROM aseg),
avals AS (
  SELECT b2.doc_id, b2.cell, b2.cnt,
         ('0x' || substr(b.hx, 2 * b2.i - 1, 2))::BIGINT AS v
  FROM abts b2 JOIN ab b ON b2.doc_id = b.doc_id),
agrid AS (
  SELECT doc_id, cell, SUM(v) // ANY_VALUE(cnt) AS g
  FROM avals GROUP BY 1, 2),
agl AS (
  SELECT doc_id, list(g ORDER BY cell) AS g FROM agrid GROUP BY doc_id),
adh AS (
  SELECT doc_id,
         list_sum([CASE WHEN g[k + 2] > g[k + 1]
                        THEN CAST(1 AS HUGEINT) << k
                        ELSE CAST(0 AS HUGEINT) END
                   for k in range(0, 64)]) AS hu
  FROM agl),
ahash AS (
  SELECT doc_id AS media_id, 'audio' AS media_type, 0 AS frame_no,
         CAST(CASE WHEN hu >= CAST(1 AS HUGEINT) << 63
                   THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END
              AS BIGINT) AS mhash
  FROM adh),
vid AS (
  SELECT doc_id, encode(text) AS payload FROM documents WHERE doc_id % 3 = 2),
vb AS (
  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n
  FROM vid WHERE octet_length(payload) > 0),
vfr AS (
  SELECT doc_id, n, least(1 + n % 120, 16) AS k, u.f
  FROM vb, LATERAL (SELECT unnest(range(0, 16)) AS f) u
  WHERE u.f < least(1 + n % 120, 16)),
vsl AS (
  SELECT doc_id, f,
         (f * n) // k AS flo,
         greatest(((f + 1) * n) // k, (f * n) // k + 1) AS fhi
  FROM vfr),
vseg AS (
  SELECT doc_id, f, flo, u.cell,
         (u.cell * (fhi - flo)) // 72 AS lo,
         greatest(((u.cell + 1) * (fhi - flo)) // 72,
                  (u.cell * (fhi - flo)) // 72 + 1) AS hi
  FROM vsl, LATERAL (SELECT unnest(range(0, 72)) AS cell) u),
vbts AS (
  SELECT doc_id, f, cell, hi - lo AS cnt,
         unnest(generate_series(flo + lo + 1, flo + hi)) AS i
  FROM vseg),
vvals AS (
  SELECT b2.doc_id, b2.f, b2.cell, b2.cnt,
         ('0x' || substr(b.hx, 2 * b2.i - 1, 2))::BIGINT AS v
  FROM vbts b2 JOIN vb b ON b2.doc_id = b.doc_id),
vgrid AS (
  SELECT doc_id, f, cell, SUM(v) // ANY_VALUE(cnt) AS g
  FROM vvals GROUP BY 1, 2, 3),
vgl AS (
  SELECT doc_id, f, list(g ORDER BY cell) AS g FROM vgrid GROUP BY doc_id, f),
vdh AS (
  SELECT doc_id, f,
         list_sum([CASE WHEN g[(k // 8) * 9 + (k % 8) + 2]
                             > g[(k // 8) * 9 + (k % 8) + 1]
                        THEN CAST(1 AS HUGEINT) << k
                        ELSE CAST(0 AS HUGEINT) END
                   for k in range(0, 64)]) AS hu
  FROM vgl),
vhash AS (
  SELECT doc_id AS media_id, 'video' AS media_type, CAST(f AS INT) AS frame_no,
         CAST(CASE WHEN hu >= CAST(1 AS HUGEINT) << 63
                   THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END
              AS BIGINT) AS mhash
  FROM vdh)
SELECT media_id, media_type, CAST(frame_no AS INT) AS frame_no, mhash FROM ihash
UNION ALL
SELECT media_id, media_type, CAST(frame_no AS INT) AS frame_no, mhash FROM ahash
UNION ALL
SELECT media_id, media_type, frame_no, mhash FROM vhash
"""


@register("media_hash_rows_docs", _MEDIA_HASH_ROWS_ORACLE)
def media_hash_rows_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified media hash rows (functions/multimodal.py media_hash_rows
    at the operator defaults over the full synthetic media table): one
    (media_id, media_type, frame_no, mhash) row per image dHash, audio
    envelope fingerprint, and sampled video frame dHash -- the media
    landing zone's signature surface (media_ingest_apply persists
    exactly these rows as its phash sidecar). Byte-exact: the three
    per-family replays (image_near_dup_pairs_docs /
    audio_near_dup_pairs_docs / video_near_dup_pairs_docs precedents)
    unioned; every stage exact integers."""
    from .functions.multimodal import media_hash_rows, synth_media_df

    docs = load_table(spark, sf_dir, "documents")
    return media_hash_rows(synth_media_df(docs))


# The media-text pair assembly replay (registered r14, executing the
# r13 VERDICT directive 5): deduped image canonicals joined to their
# caption documents with both sides' cluster ids and the bipartite
# pair group. Built from already-proven exact pieces: the image
# dHash + capped pigeonhole replay (image_near_dup_pairs_docs
# verbatim, over media_id), the audio row's planted same-length
# mid-edit twins (media_id = doc_id + 10,000,000 for every
# doc_id % 30 = 0 image, so the canonical re-point actually fires at
# every SF -- 17 collapsed twins at sf0.01), the recursive-CTE
# min-reachable connected components (the retired dedup_clusters
# replay, still driver-proven), and a second recursive CC over the
# bipartite (media_cluster*2, text_cluster*2+1) graph for
# pair_group. Links are derived in-query (no link table in the
# synthetic corpus): image doc_id -> caption doc_id + 1, its twin ->
# caption doc_id + 2; captions that fall off the table edge drop on
# both sides (inner join). The Spark side runs the FULL
# media_dup_clusters posture minus SemDeDup (semantic_threshold=None,
# the float-pipeline oracle exclusion) with media_types=("image",) so
# the audio/video family kernels -- which would scan the image-only
# frame and emit nothing -- are skipped outright. text_clusters omitted ->
# every doc its own cluster (the text-side propagation is
# pytest-covered in test_media_text_pairs.py); quality = n_chars,
# exact integer.
_MEDIA_TEXT_PAIRS_ORACLE = """
WITH RECURSIVE
img AS (
  SELECT doc_id AS media_id, encode(text) AS payload
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 10000000,
         encode(substr(text, 1, length(text) // 2) || 'ZZZZZZZZ' ||
                substr(text, length(text) // 2 + 9))
  FROM documents WHERE doc_id % 30 = 0),
b AS (
  SELECT media_id, hex(payload) AS hx, octet_length(payload) AS n FROM img),
seg AS (
  SELECT media_id, u.cell,
         (u.cell * n) // 72 AS lo,
         greatest(((u.cell + 1) * n) // 72, (u.cell * n) // 72 + 1) AS hi
  FROM b, LATERAL (SELECT unnest(range(0, 72)) AS cell) u
  WHERE n > 0),
bts AS (
  SELECT media_id, cell, hi - lo AS cnt, unnest(generate_series(lo + 1, hi)) AS i
  FROM seg),
vals AS (
  SELECT b2.media_id, b2.cell, b2.cnt,
         ('0x' || substr(b.hx, 2 * b2.i - 1, 2))::BIGINT AS v
  FROM bts b2 JOIN b ON b2.media_id = b.media_id),
grid AS (
  SELECT media_id, cell, SUM(v) // ANY_VALUE(cnt) AS g
  FROM vals GROUP BY 1, 2),
gl AS (
  SELECT media_id, list(g ORDER BY cell) AS g FROM grid GROUP BY media_id),
dh AS (
  SELECT media_id,
         list_sum([CASE WHEN g[(k // 8) * 9 + (k % 8) + 2]
                             > g[(k // 8) * 9 + (k % 8) + 1]
                        THEN CAST(1 AS HUGEINT) << k
                        ELSE CAST(0 AS HUGEINT) END
                   for k in range(0, 64)]) AS hu
  FROM gl),
hashes AS (
  SELECT media_id, hu,
         CAST(CASE WHEN hu >= CAST(1 AS HUGEINT) << 63
                   THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END
              AS BIGINT) AS dhash
  FROM dh),
chunks AS (
  SELECT media_id, dhash, u.pos,
         CAST((hu >> (u.pos * 8)) & 255 AS BIGINT) AS val
  FROM hashes, LATERAL (SELECT unnest(range(0, 8)) AS pos) u),
capped AS (
  SELECT media_id, dhash, pos, val,
         ROW_NUMBER() OVER (PARTITION BY pos, val ORDER BY media_id) AS rn
  FROM chunks),
ipairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM (SELECT * FROM capped WHERE rn <= 256) a
  JOIN (SELECT * FROM capped WHERE rn <= 256) b
    ON a.pos = b.pos AND a.val = b.val AND a.media_id < b.media_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM ipairs
  UNION ALL SELECT id_b, id_a FROM ipairs),
reach(id, r) AS (
  SELECT media_id, media_id FROM img
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
clusters AS (
  SELECT id AS media_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
links AS (
  SELECT doc_id AS media_id, doc_id + 1 AS doc_id
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 10000000, doc_id + 2 FROM documents WHERE doc_id % 30 = 0),
repointed AS (
  SELECT DISTINCT COALESCE(c.cluster_id, l.media_id) AS media_id, l.doc_id
  FROM links l LEFT JOIN clusters c ON l.media_id = c.media_id),
tpairs AS (
  SELECT r.media_id, r.doc_id, d.text, d.n_chars AS quality,
         r.media_id AS media_cluster, r.doc_id AS text_cluster
  FROM repointed r JOIN documents d ON r.doc_id = d.doc_id),
pe AS (
  SELECT DISTINCT media_cluster * 2 AS src, text_cluster * 2 + 1 AS dst
  FROM tpairs),
pe2 AS (SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe),
preach(id, r) AS (
  SELECT src, src FROM pe2
  UNION
  SELECT preach.id, e.dst FROM preach JOIN pe2 e ON e.src = preach.r),
pg AS (SELECT id AS node, MIN(r) AS pair_group FROM preach GROUP BY id)
SELECT p.media_id, p.doc_id, p.text, p.quality,
       p.media_cluster, p.text_cluster, g.pair_group
FROM tpairs p JOIN pg g ON g.node = p.media_cluster * 2
"""


@register("media_text_pairs_docs", _MEDIA_TEXT_PAIRS_ORACLE)
def media_text_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair assembly (functions/multimodal.py
    assemble_media_text_pairs over media_dup_clusters, r13 VERDICT
    directive 5): the synthetic image third of documents plus planted
    same-length mid-edit twins (media_id = doc_id + 10,000,000 for
    every doc_id % 30 = 0 image -- the audio row's densification
    pattern, so canonical re-pointing fires at every SF), deduped
    through the full perceptual pair posture (SemDeDup off: the
    documented float-pipeline oracle exclusion) and joined to
    derived caption links (doc_id + 1 for originals, + 2 for twins).
    Emits (media_id, doc_id, text, quality=n_chars, media_cluster,
    text_cluster, pair_group) where pair_group is the bipartite CC
    over both sides' cluster ids -- the leakage_safe_split group key.
    Every stage exact integers (image dHash replay + two recursive-CTE
    min-reachable CCs, dedup_clusters precedent)."""
    from .functions.multimodal import (
        assemble_media_text_pairs,
        media_dup_clusters,
        synth_media_df,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = synth_media_df(docs).filter(F.col("media_type") == "image")
    twins = docs.filter(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).cast("long").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(
            F.concat(
                F.expr("substring(text, 1, cast(length(text) / 2 as int))"),
                F.lit("ZZZZZZZZ"),
                F.expr("substring(text, cast(length(text) / 2 as int) + 9)"),
            ),
            "UTF-8",
        ).alias("payload"),
        F.lit(None).cast("string").alias("meta"),
    )
    media = base.unionByName(twins)
    clusters = media_dup_clusters(
        media, semantic_threshold=None, media_types=("image",)
    )
    links = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") + 1).alias("doc_id"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 30 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).cast("long").alias("media_id"),
            (F.col("doc_id") + 2).alias("doc_id"),
        )
    )
    return assemble_media_text_pairs(docs, links, clusters, quality_col="n_chars")


# The media datacard replay (registered r14, the second r14 mid --
# matched by events_salted_type_stats in _NEXT_RETIREMENT_CANDIDATES):
# one conditional-agg pass per media type over the synthetic media
# payloads. Everything is exact-integer except avg_bytes, a
# deterministic exact-int double division (sum/count of bigints, the
# jaccard precedent). r15 (the r14 VERDICT's What's wrong #3):
# synth_media_df now plants NULL meta on every 11th row, so
# n_with_meta replays as the discriminating doc_id % 11 count instead
# of COUNT(*).
_MEDIA_DATACARD_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         ELSE 'video' END AS media_type,
         encode(text) AS payload
  FROM documents)
SELECT media_type,
       COUNT(*) AS n_media,
       CAST(SUM(CASE WHEN payload IS NULL OR octet_length(payload) = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_null_payloads,
       CAST(SUM(CASE WHEN doc_id % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_meta,
       CAST(SUM(CASE WHEN payload IS NOT NULL AND octet_length(payload) > 0
                     THEN octet_length(payload) ELSE 0 END) AS BIGINT)
           AS total_bytes,
       CAST(MIN(CASE WHEN payload IS NOT NULL AND octet_length(payload) > 0
                     THEN octet_length(payload) END) AS BIGINT) AS min_bytes,
       CAST(MAX(CASE WHEN payload IS NOT NULL AND octet_length(payload) > 0
                     THEN octet_length(payload) END) AS BIGINT) AS max_bytes,
       CAST(SUM(CASE WHEN payload IS NOT NULL AND octet_length(payload) > 0
                     THEN octet_length(payload) ELSE 0 END) AS DOUBLE)
           / SUM(CASE WHEN payload IS NOT NULL AND octet_length(payload) > 0
                      THEN 1 ELSE 0 END) AS avg_bytes,
       COUNT(DISTINCT CASE WHEN payload IS NOT NULL
                                AND octet_length(payload) > 0
                           THEN octet_length(payload) END) AS n_distinct_sizes
FROM m GROUP BY media_type
"""


@register("media_datacard_docs", _MEDIA_DATACARD_ORACLE)
def media_datacard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media data card (functions/multimodal.py media_datacard over the
    full synthetic media table): per-type counts, NULL-convention
    payload accounting, and byte stats in ONE conditional-agg pass --
    the media twin of corpus_datacard (the corpus ANALYZE surface a
    curation pipeline reads before sizing batches and gates). Exact
    integers end to end except avg_bytes, a deterministic exact-int
    double division (jaccard precedent)."""
    from .functions.multimodal import media_datacard, synth_media_df

    docs = load_table(spark, sf_dir, "documents")
    return media_datacard(synth_media_df(docs))


# ---- round-15 registrations (mid-order: first driver rows due r16) ----

# Interleaved multimodal packing replay (r14 VERDICT #3 -- matched by
# corpus_contamination_pairs in _NEXT_RETIREMENT_CANDIDATES): the
# pack_sequences bucket construction over example budgets of
# text tokens + n_frames*16 vision tokens per linked media, then the
# within-example media-first item layout. Every media cost replays the
# deterministic stub decode's n_frames arithmetic (image 1, audio
# 1 + bytes % 1000, video 1 + bytes % 120 -- functions/multimodal.py
# _fake_decode); every offset is integer prefix-sum arithmetic, the
# documents_pack_sequences precedent. Links: every doc carries its own
# synthetic media, and every image doc's media ALSO captions the next
# doc (multi-item examples; the EXISTS drop mirrors the left_semi).
_PACK_MULTIMODAL_ORACLE = """
WITH m AS (
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS mt,
           COALESCE(octet_length(encode(text)), 0) AS nb
    FROM documents),
costs AS (
    SELECT media_id,
           CASE mt WHEN 'image' THEN 1
                   WHEN 'audio' THEN 1 + nb % 1000
                   ELSE 1 + nb % 120 END AS n_frames
    FROM m),
links AS (
    SELECT doc_id AS media_id, doc_id FROM documents
    UNION
    SELECT d.doc_id AS media_id, d.doc_id + 1 AS doc_id
    FROM documents d
    WHERE d.doc_id % 3 = 0
      AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id + 1)),
mitems AS (
    SELECT l.doc_id, l.media_id,
           CAST(c.n_frames * 16 AS BIGINT) AS n_tokens,
           'media' AS item_type
    FROM links l JOIN costs c USING (media_id)),
titems AS (
    SELECT doc_id, CAST(NULL AS BIGINT) AS media_id,
           CAST(COALESCE(len(regexp_extract_all(text,
                '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')), 0) AS BIGINT) AS n_tokens,
           'text' AS item_type
    FROM documents),
items AS (SELECT * FROM mitems UNION ALL SELECT * FROM titems),
ex AS (
    SELECT doc_id, SUM(n_tokens) AS ex_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 256
               AS bucket
    FROM items GROUP BY doc_id),
b AS (SELECT bucket, SUM(ex_tokens) AS btok FROM ex GROUP BY 1),
c2 AS (
    SELECT bucket,
           COALESCE(SUM(btok) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bucket_offset
    FROM b),
exoff AS (
    SELECT ex.doc_id,
           c2.bucket_offset
           + COALESCE(SUM(ex.ex_tokens) OVER (PARTITION BY ex.bucket
                      ORDER BY ex.h, ex.doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS ex_offset
    FROM ex JOIN c2 USING (bucket)),
placed AS (
    SELECT i.doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY i.doc_id
                ORDER BY i.item_type, i.media_id) - 1 AS INTEGER) AS item_no,
           i.item_type, i.media_id, i.n_tokens,
           e.ex_offset
           + COALESCE(SUM(i.n_tokens) OVER (PARTITION BY i.doc_id
                      ORDER BY i.item_type, i.media_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS global_offset
    FROM items i JOIN exoff e USING (doc_id))
SELECT doc_id, item_no, item_type, media_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(global_offset AS BIGINT) AS global_offset,
       CAST(global_offset // 2048 AS BIGINT) AS seq_id,
       CAST(global_offset % 2048 AS BIGINT) AS seq_offset
FROM placed
"""


@register("documents_pack_multimodal", _PACK_MULTIMODAL_ORACLE)
def documents_pack_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved multimodal packing placement map
    (functions/corpus.py pack_multimodal_sequences, r14 VERDICT #3):
    every doc carries its own synthetic media item, image docs' media
    additionally caption the next doc (multi-item examples), and each
    media item costs n_frames * 16 vision tokens with n_frames from
    the REAL decode_media Arrow pass (stub-deterministic byte
    arithmetic). Emits the per-ITEM placement rows -- media
    placeholders before the text span -- under 2048-token
    pack-then-chunk; same bucket-coarse md5 global order as
    documents_pack_sequences, no unbounded sort on either engine."""
    from .functions.corpus import pack_multimodal_sequences
    from .functions.multimodal import decode_media, synth_media_df

    docs = load_table(spark, sf_dir, "documents")
    media = synth_media_df(docs)
    costs = decode_media(media).select("media_id", "n_frames")
    links = media.select(
        "media_id", F.col("media_id").alias("doc_id")
    ).unionByName(
        media.filter(F.col("media_type") == "image").select(
            "media_id", (F.col("media_id") + 1).alias("doc_id")
        )
    )
    return pack_multimodal_sequences(
        docs, links, costs, seq_tokens=2048, tokens_per_frame=16
    )


# Media datacard drift replay (r14 VERDICT #6 -- matched by
# ann_lsh_bucket_topk in _NEXT_RETIREMENT_CANDIDATES): two
# conditional-agg cards full-outer-joined on media_type, integer
# old/new/delta fields only (avg_bytes stays on the card surface), the
# rel_threshold=0.5 double comparison rewritten as the exactly-
# equivalent integer form 2*|delta| > greatest(old, 1) -- the
# corpus_datacard_drift precedent verbatim. The 'new' window drops the
# audio type entirely so the one-side-missing always-flags rule fires,
# and the NULL-meta rows (media_id % 11 = 0) make n_with_meta
# discriminate from n_media.
_MEDIA_DATACARD_DRIFT_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         encode(text) AS payload
  FROM documents),
card_old AS (
  SELECT media_type,
         CAST(COUNT(*) AS BIGINT) AS n_media,
         CAST(SUM(CASE WHEN payload IS NULL OR octet_length(payload) = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_null_payloads,
         CAST(SUM(CASE WHEN media_id % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_meta,
         CAST(SUM(CASE WHEN payload IS NOT NULL AND octet_length(payload) > 0
                       THEN octet_length(payload) ELSE 0 END) AS BIGINT)
             AS total_bytes
  FROM m WHERE media_id % 7 <> 0 GROUP BY media_type),
card_new AS (
  SELECT media_type,
         CAST(COUNT(*) AS BIGINT) AS n_media,
         CAST(SUM(CASE WHEN payload IS NULL OR octet_length(payload) = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_null_payloads,
         CAST(SUM(CASE WHEN media_id % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_meta,
         CAST(SUM(CASE WHEN payload IS NOT NULL AND octet_length(payload) > 0
                       THEN octet_length(payload) ELSE 0 END) AS BIGINT)
             AS total_bytes
  FROM m WHERE media_type <> 'audio' GROUP BY media_type)
SELECT COALESCE(o.media_type, n.media_type) AS media_type,
       o.n_media AS n_media_old,
       o.n_null_payloads AS n_null_payloads_old,
       o.n_with_meta AS n_with_meta_old,
       o.total_bytes AS total_bytes_old,
       n.n_media AS n_media_new,
       n.n_null_payloads AS n_null_payloads_new,
       n.n_with_meta AS n_with_meta_new,
       n.total_bytes AS total_bytes_new,
       CAST(COALESCE(n.n_media, 0) - COALESCE(o.n_media, 0) AS BIGINT)
           AS n_media_delta,
       CAST(COALESCE(n.n_null_payloads, 0) - COALESCE(o.n_null_payloads, 0)
            AS BIGINT) AS n_null_payloads_delta,
       CAST(COALESCE(n.n_with_meta, 0) - COALESCE(o.n_with_meta, 0) AS BIGINT)
           AS n_with_meta_delta,
       CAST(COALESCE(n.total_bytes, 0) - COALESCE(o.total_bytes, 0) AS BIGINT)
           AS total_bytes_delta,
       ((o.n_media IS NULL OR n.n_media IS NULL)
        OR 2 * ABS(COALESCE(n.n_media, 0) - COALESCE(o.n_media, 0))
           > GREATEST(COALESCE(o.n_media, 0), 1)
        OR 2 * ABS(COALESCE(n.n_null_payloads, 0)
                   - COALESCE(o.n_null_payloads, 0))
           > GREATEST(COALESCE(o.n_null_payloads, 0), 1)
        OR 2 * ABS(COALESCE(n.total_bytes, 0) - COALESCE(o.total_bytes, 0))
           > GREATEST(COALESCE(o.total_bytes, 0), 1)) AS drifted
FROM card_old o FULL OUTER JOIN card_new n
  ON o.media_type = n.media_type
"""


@register("media_datacard_drift_docs", _MEDIA_DATACARD_DRIFT_ORACLE)
def media_datacard_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media composition-drift report (functions/multimodal.py
    media_datacard_drift, r14 VERDICT #6 -- the composition
    media_datacard's docstring promised): the synthetic media table
    split into an 'old' window (media_id % 7 <> 0) and a 'new' window
    that drops the audio type entirely, so the one-side-missing
    always-flags rule fires alongside the integer relative-move
    rule. All-integer old/new/delta fields; the NULL-meta fixture
    rows make n_with_meta != n_media in every populated cell."""
    from .functions.multimodal import media_datacard_drift, synth_media_df

    media = synth_media_df(load_table(spark, sf_dir, "documents"))
    return media_datacard_drift(
        media.filter(F.col("media_id") % 7 != 0),
        media.filter(F.col("media_type") != "audio"),
    )


# Media decode-rule verdict replay (r14 VERDICT #5 -- matched by
# sat_load_lineitem_composite in _NEXT_RETIREMENT_CANDIDATES): the
# landing zone's structural quality gate and this row share ONE rule
# kernel (multimodal.media_decode_rule_verdicts), so the driver row
# verifies exactly what the gate rejects on. The stub decode is pure
# byte arithmetic (image width = 16 + n%624 / height = 16 + 7n%464 /
# 1 frame; audio NULL dims / 1 + n%1000 frames; video dims like image
# / 1 + n%120 frames), the verdict a first-failing-rule CASE -- all
# integers and strings.
_MEDIA_DECODE_RULES_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         COALESCE(octet_length(encode(text)), 0) AS n
  FROM documents),
d AS (
  SELECT media_id, media_type,
         CASE WHEN media_type = 'audio' THEN NULL
              ELSE 16 + n % 624 END AS width,
         CASE WHEN media_type = 'audio' THEN NULL
              ELSE 16 + (n * 7) % 464 END AS height,
         CASE media_type WHEN 'image' THEN 1
              WHEN 'audio' THEN 1 + n % 1000
              ELSE 1 + n % 120 END AS n_frames
  FROM m)
SELECT media_id, media_type,
       CASE WHEN width IS NOT NULL AND width < 100 THEN 'min_width'
            WHEN height IS NOT NULL AND height < 100 THEN 'min_height'
            WHEN media_type <> 'image' AND n_frames < 50
                 THEN 'min_frames'
       END AS rule
FROM d
"""


@register("media_decode_rules_docs", _MEDIA_DECODE_RULES_ORACLE)
def media_decode_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural decode-floor verdicts (functions/multimodal.py
    media_decode_rule_verdicts, r14 VERDICT #5): one Arrow decode pass
    over the full synthetic media table, then the first-failing-rule
    when-chain (min_width=100, min_height=100, min_frames=50) with the
    per-applicable-type rules -- audio's NULL dims pass the dimension
    floors, static images pass the duration floor. The landing zone's
    decode_rules gate routes rows with a non-NULL verdict through this
    SAME kernel."""
    from .functions.multimodal import media_decode_rule_verdicts, synth_media_df

    media = synth_media_df(load_table(spark, sf_dir, "documents"))
    return media_decode_rule_verdicts(
        media, {"min_width": 100, "min_height": 100, "min_frames": 50}
    )


# Packed token-stream replay (the packing WRITER, r15 -- matched by
# documents_pack_sequences in _NEXT_RETIREMENT_CANDIDATES: this oracle
# replays that row's ENTIRE placement CTE before exploding per-token,
# the exact-subset retirement precedent). Text-only rendering (no
# links), hashed-vocab ids: token_id = md5-prefix % 32768, the same
# md5 integer convention every bucket hash in this file uses; one
# row per token position, zero-token docs emit nothing.
_PACKED_TOKEN_STREAM_ORACLE = """
WITH f AS (
    SELECT doc_id,
           COALESCE(len(regexp_extract_all(text,
                        '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')), 0)
               AS n_bpe_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 256
               AS bucket
    FROM documents),
b AS (SELECT bucket, SUM(n_bpe_tokens) AS btok FROM f GROUP BY 1),
c AS (
    SELECT bucket,
           COALESCE(SUM(btok) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bucket_offset
    FROM b),
d AS (
    SELECT f.doc_id,
           c.bucket_offset
           + COALESCE(SUM(f.n_bpe_tokens) OVER (PARTITION BY f.bucket
                      ORDER BY f.h, f.doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS global_offset
    FROM f JOIN c USING (bucket)),
tk AS (
    SELECT d.doc_id, d.global_offset,
           unnest(regexp_extract_all(doc.text,
                  '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS tok,
           generate_subscripts(regexp_extract_all(doc.text,
                  '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'), 1) AS i
    FROM d JOIN documents doc USING (doc_id))
SELECT CAST((global_offset + i - 1) // 2048 AS BIGINT) AS seq_id,
       CAST((global_offset + i - 1) % 2048 AS BIGINT) AS seq_pos,
       CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 32768 AS BIGINT)
           AS token_id,
       doc_id,
       'text' AS item_type
FROM tk
"""


@register("documents_packed_token_stream", _PACKED_TOKEN_STREAM_ORACLE)
def documents_packed_token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing WRITER's token stream (functions/corpus.py
    render_packed_tokens, r15): the pack_sequences placement map
    materialized to one row per token position -- (seq_id, seq_pos,
    token_id, doc_id, item_type) under 2048-token pack-then-chunk,
    hashed-vocab ids (md5 % 32768). Text-only here (the multimodal
    placeholder path is pytest-pinned); after the planner's bounded
    windows the whole render is ONE posexplode + offset arithmetic,
    no sequence-fragment state anywhere."""
    from .functions.corpus import render_packed_tokens

    return render_packed_tokens(
        load_table(spark, sf_dir, "documents"), seq_tokens=2048
    )


# Modality-budgeted sampling replay (r15 -- matched by
# corpus_token_budget_sample in _NEXT_RETIREMENT_CANDIDATES: this
# oracle replays that row's ENTIRE lang-CASE + bucket-greedy prefix
# construction and extends the budget cost with the media bill, the
# exact-subset retirement precedent; empty links degenerate to the
# retired row byte-exactly). Links: docs with doc_id % 5 != 0 carry
# their own synthetic media (so text-only examples exist and the
# left-join COALESCE leg discriminates); image media additionally
# caption the next doc (multi-item bills); every media cost replays
# the deterministic stub decode's n_frames arithmetic (image 1,
# audio 1 + bytes % 1000, video 1 + bytes % 120) at 16 tokens/frame.
# nb COALESCEs to 0 for NULL text (r15 review): the stub decodes a
# NULL payload as length 0 (n_frames >= 1 always), while a NULL nb
# would NULL the frame count and SUM would silently skip the bill --
# the same NULL-skip class the packing family's r15 fix closed.
_MULTIMODAL_BUDGET_ORACLE = f"""
WITH f0 AS (
    SELECT doc_id, text,
           len(regexp_extract_all(lower(text), '{_LANG_RE["de"]}')) AS score_de,
           len(regexp_extract_all(lower(text), '{_LANG_RE["en"]}')) AS score_en,
           len(regexp_extract_all(lower(text), '{_LANG_RE["es"]}')) AS score_es,
           len(regexp_extract_all(lower(text), '{_LANG_RE["fr"]}')) AS score_fr
    FROM documents),
f AS (
    SELECT doc_id,
           CASE WHEN score_de = 0 AND score_en = 0 AND score_es = 0 AND score_fr = 0
                THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr
                THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS detected_lang,
           COALESCE(len(regexp_extract_all(text,
                        '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')), 0) AS n_text_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 256 AS bucket
    FROM f0),
m AS (
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS mt,
           COALESCE(octet_length(encode(text)), 0) AS nb
    FROM documents),
costs AS (
    SELECT media_id,
           CASE mt WHEN 'image' THEN 1
                   WHEN 'audio' THEN 1 + nb % 1000
                   ELSE 1 + nb % 120 END AS n_frames
    FROM m),
links AS (
    SELECT doc_id AS media_id, doc_id FROM documents WHERE doc_id % 5 <> 0
    UNION
    SELECT d.doc_id AS media_id, d.doc_id + 1 AS doc_id
    FROM documents d
    WHERE d.doc_id % 3 = 0
      AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id + 1)),
mtok AS (
    SELECT l.doc_id, SUM(c.n_frames * 16) AS n_media_tokens
    FROM links l JOIN costs c USING (media_id) GROUP BY 1),
ft AS (
    SELECT f.doc_id, f.detected_lang, f.n_text_tokens,
           COALESCE(mtok.n_media_tokens, 0) AS n_media_tokens,
           f.n_text_tokens + COALESCE(mtok.n_media_tokens, 0) AS n_tokens,
           f.h, f.bucket
    FROM f LEFT JOIN mtok USING (doc_id)),
b AS (
    SELECT detected_lang, bucket, SUM(n_tokens) AS btok
    FROM ft GROUP BY 1, 2),
c2 AS (
    SELECT detected_lang, bucket,
           COALESCE(SUM(btok) OVER (PARTITION BY detected_lang ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM b),
d AS (
    SELECT ft.doc_id, ft.detected_lang, ft.n_text_tokens, ft.n_media_tokens,
           ft.n_tokens, c2.cum_before,
           SUM(ft.n_tokens) OVER (PARTITION BY ft.detected_lang, ft.bucket
                    ORDER BY ft.h, ft.doc_id ROWS UNBOUNDED PRECEDING) AS dcum
    FROM ft JOIN c2 ON ft.detected_lang = c2.detected_lang AND ft.bucket = c2.bucket)
SELECT doc_id, detected_lang,
       CAST(n_text_tokens AS BIGINT) AS n_text_tokens,
       CAST(n_media_tokens AS BIGINT) AS n_media_tokens,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM d WHERE cum_before + dcum <= 200000
"""


@register("documents_multimodal_budget_sample", _MULTIMODAL_BUDGET_ORACLE)
def documents_multimodal_budget_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Modality-budgeted token sampling (functions/corpus.py
    multimodal_token_budget_sample, r15): per-language 200k-token
    budgets fill greedily in the token_budget_sample bucket-coarse md5
    order, but each example bills text tokens PLUS its linked media's
    vision tokens (n_frames x 16, frames from the REAL decode_media
    Arrow pass) -- the mix construction an interleaved pretraining
    corpus actually needs. Docs with doc_id % 5 == 0 are text-only
    (media cost 0); image media additionally caption the next doc."""
    from .functions.corpus import multimodal_token_budget_sample
    from .functions.multimodal import decode_media, synth_media_df

    docs = load_table(spark, sf_dir, "documents")
    media = synth_media_df(docs)
    costs = decode_media(media).select("media_id", "n_frames")
    links = media.filter(F.col("media_id") % 5 != 0).select(
        "media_id", F.col("media_id").alias("doc_id")
    ).unionByName(
        media.filter(F.col("media_type") == "image").select(
            "media_id", (F.col("media_id") + 1).alias("doc_id")
        )
    )
    return multimodal_token_budget_sample(
        docs, links, costs, budget_tokens=200_000, tokens_per_frame=16
    )
