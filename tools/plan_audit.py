"""Physical-plan audit: asserts scale-critical plan properties for the
headline queries and writes PLAN_AUDIT.json.

What "designed for 100 TB" means concretely, checked from the executed plan:
  * predicate pushdown — selective scans carry PushedFilters into parquet;
  * column pruning — fact-table scans read only referenced columns
    (ReadSchema much narrower than the table);
  * broadcast joins — dimension joins are BroadcastHashJoin, never a
    shuffled join of a tiny table, and never CartesianProduct (the only
    sanctioned cross-join is KNN's scalar query-vector × collection);
  * whole-stage codegen — relational operators run inside codegen spans.

Run after plan changes; failures list which property regressed on which
query. Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query -> list of (check_name, predicate over plan text)
CHECKS: dict[str, list] = {
    "tpch_q6_forecast_revenue": [
        ("pushed_shipdate_filter", lambda p: re.search(r"PushedFilters: \[[^\]]*l_shipdate", p)),
        ("column_pruned_scan", lambda p: "l_extendedprice" in _read_schema(p, "lineitem")
         and "l_orderkey" not in _read_schema(p, "lineitem")),
        ("codegen", lambda p: "WholeStageCodegen" in p or "*(" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "tpch_q1_pricing_summary": [
        ("pushed_shipdate_filter", lambda p: re.search(r"PushedFilters: \[[^\]]*l_shipdate", p)),
        ("partial_agg", lambda p: "partial_sum" in p or "partial" in p.lower()),
        ("no_exchange_beyond_agg", lambda p: p.count("Exchange") <= 2),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "tpch_q5_local_supplier_volume": [
        ("broadcast_dims", lambda p: p.count("BroadcastHashJoin") >= 2),
        ("pushed_orderdate_filter", lambda p: re.search(r"PushedFilters: \[[^\]]*o_orderdate", p)),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "tpch_q8_market_share": [
        ("broadcast_dims", lambda p: p.count("BroadcastHashJoin") >= 4),
        ("pushed_orderdate_filter", lambda p: re.search(r"PushedFilters: \[[^\]]*o_orderdate", p)),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "tpch_q18_large_orders": [
        # plans print top-down (root first): the per-orderkey aggregate must
        # be a DESCENDANT of the join (appear after it) — i.e. the fact table
        # is collapsed before joining, and top-100 is a heap not a full sort
        ("agg_before_join", lambda p: "HashAggregate(keys=[l_orderkey" in p
         and "Join" in p and p.index("Join") < p.index("HashAggregate(keys=[l_orderkey")),
        ("topk_not_full_sort", lambda p: "TakeOrderedAndProject" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "tpch_q21_waiting_orders": [
        # per_supp is consumed by two branches; the cached relation must be
        # reused (InMemoryTableScan) instead of recomputing lineitem⋈orders
        ("shared_subtree_cached", lambda p: "InMemoryTableScan" in p),
        ("broadcast_supplier", lambda p: "BroadcastHashJoin" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "c1_permission_semi_join": [
        ("semi_join", lambda p: "LeftSemi" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "c2_backfill_anti_join": [
        ("anti_join", lambda p: "LeftAnti" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "c6_knn_topk": [
        # KNN is the sanctioned 1-row cross join: scalar query vector ×
        # collection, then TakeOrderedAndProject — no global sort
        ("topk_not_full_sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "b6_filtered_knn": [
        ("filter_before_score", lambda p: re.search(r"PushedFilters: \[[^\]]*label", p)
         or "PushedFilters" in p),
        ("topk_not_full_sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "c5_find_similar": [
        # item-to-item: the 1-row target (vector + its norm) is broadcast
        # into the scoring pass; top-k stays a heap, never a cartesian
        ("topk_not_full_sort", lambda p: "TakeOrderedAndProject" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "e2_topk_by_score": [
        ("topk_not_full_sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "dedup_minhash_lsh": [
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("bucket_join_is_shuffle_or_bhj", lambda p: "Join" in p),
    ],
    "range_join_click_window": [
        ("equi_key_join_not_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "sessionization": [
        ("one_shuffle_for_windows_and_agg", lambda p: p.count("Exchange") <= 2),
    ],
    "b1_type_filter": [
        ("pushed_isin_filter", lambda p: re.search(r"PushedFilters: \[[^\]]*lang", p)),
        ("column_pruned_scan", lambda p: "text" not in _read_schema(p, "documents")),
    ],
    "gopher_repetition_filter": [
        # higher-order-function metrics: pure map stage, one scan, no shuffle
        ("zero_shuffle", lambda p: "Exchange" not in p),
        ("single_scan", lambda p: p.count("FileScan") == 1),
        ("column_pruned_scan", lambda p: "lang" not in _read_schema(p, "documents")),
    ],
    "c4_doc_filter": [
        ("zero_shuffle", lambda p: "Exchange" not in p),
        ("single_scan", lambda p: p.count("FileScan") == 1),
    ],
    "hash_stratified_sample": [
        # md5-threshold sampling: filter evaluates at the scan, nothing moves
        ("zero_shuffle", lambda p: "Exchange" not in p),
        ("filter_at_scan", lambda p: re.search(r"DataFilters: \[[^\]]*md5", p)),
        ("column_pruned_scan", lambda p: "text" not in _read_schema(p, "documents")),
    ],
    "substring_dup_spans": [
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("keyed_shuffles_only", lambda p: p.count("Exchange hashpartitioning") <= 4),
    ],
    "tfidf_cosine_pairs": [
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("partial_agg", lambda p: "partial_count" in p or "partial_sum" in p),
    ],
    "heavy_hitters_exact": [
        # pass-2 recount: the candidate IN-filter must evaluate at the scan
        ("candidate_filter_at_scan", lambda p: re.search(r"DataFilters: \[[^\]]*concat_ws", p)),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "ts_linear_interpolation": [
        ("windows_partitioned_by_type", lambda p: "windowspecdefinition(event_type" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "trailing_week_user_value": [
        # the tz-less parquet ts must surface as LTZ at the SCAN (conf-based
        # read, sources/tables.py) — a post-scan cast would forfeit parquet
        # row-group pruning for every ts-range predicate downstream
        ("events_ts_ltz_at_scan", lambda p: re.search(r"ReadSchema: [^\n]*ts:timestamp[,>]", p)
         and "timestamp_ntz" not in p),
        ("range_frame_window", lambda p: "windowspecdefinition" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "knn_batch_topk": [
        # the sanctioned broadcast cross: tiny query set x collection
        ("query_set_broadcast", lambda p: "BroadcastNestedLoopJoin" in p),
        # plans print root-first: the final Window must sit ABOVE the
        # map-side local top-k (MapInPandas) — i.e. the prune runs before
        # the merge shuffle, so only partitions*queries*k rows move
        ("local_topk_before_window_merge", lambda p: "MapInPandas" in p
         and "Window" in p and p.index("Window") < p.index("MapInPandas")),
        ("no_global_sort", lambda p: "Sort [score" not in p),
    ],
    "ann_filtered_adaptive": [
        # selective predicate routes to the exact pre-filter branch and the
        # equality conjuncts reach the parquet scan
        ("pushed_equality_filters", lambda p: re.search(r"PushedFilters: \[[^\]]*label", p)),
        ("topk_not_full_sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "extract_real_kernels": [
        # document synth + kernel decode form one Arrow chain whose only
        # exchange is the deliberate round-robin spread of the Python-bound
        # work (a small parquet is one split); never a keyed shuffle
        ("only_roundrobin_spread", lambda p: "Exchange hashpartitioning" not in p
         and "Exchange rangepartitioning" not in p),
        ("arrow_batched_kernels", lambda p: p.count("MapInPandas") >= 2),
        # column pruning through the Python boundary: the documents scan
        # reads only (doc_id, text), not the full table
        ("documents_scan_pruned", lambda p: (
            (lambda s: "doc_id" in s and "text" in s and "lang" not in s and "url" not in s)
            (_read_schema(p, "documents"))
        )),
    ],
    "a10_real_scanned_pdf_ocr": [
        # fixture-driven: no parquet scan at all, one Arrow kernel pass
        ("single_kernel_pass", lambda p: p.count("MapInPandas") == 1),
        ("no_shuffle", lambda p: "Exchange" not in p),
    ],
    "events_topk_per_user": [
        # rank<=k prunes BEFORE the user_id shuffle: partial + final
        # WindowGroupLimit around exactly one Exchange — the full per-user
        # sort never materializes
        ("window_group_limit_pushdown", lambda p: _final_plan(p).count("WindowGroupLimit") >= 2),
        ("single_shuffle", lambda p: _final_plan(p).count("Exchange hashpartitioning") == 1),
    ],
    "dedup_aware_splits": [
        ("shuffle_free", lambda p: "Exchange" not in p),
        ("documents_scan_pruned", lambda p: "lang" not in _read_schema(p, "documents")),
    ],
    "tpch_q2_region_min_cost_supplier": [
        # decorrelated min: cost computed once (cached), reused by both the
        # min-per-part branch and the equality join back
        ("shared_cost_cached", lambda p: "InMemoryTableScan" in p),
        ("broadcast_dims", lambda p: p.count("BroadcastHashJoin") >= 3),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "tpch_q4_order_priority": [
        ("exists_is_semi_join", lambda p: "LeftSemi" in p),
        ("pushed_orderdate_filter", lambda p: re.search(r"PushedFilters: \[[^\]]*o_orderdate", p)),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "tpch_q13_nonurgent_order_distribution": [
        ("outer_join_preserved", lambda p: "LeftOuter" in p or "RightOuter" in p),
        ("partial_agg", lambda p: "partial_count" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "tpch_q16_supplier_part_counts": [
        ("not_in_is_anti_join", lambda p: "LeftAnti" in p),
        ("distinct_two_phase", lambda p: p.count("HashAggregate") >= 3),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "exact_substring_spans": [
        # stride-1 inverted index: shuffles keyed on window content / doc_id
        # only; islands merged in a per-doc window, never a global sort
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("islands_windowed_by_doc", lambda p: "windowspecdefinition(doc_id" in p),
        ("keyed_shuffles_only", lambda p: "Exchange rangepartitioning" not in _final_plan(p)),
    ],
    "winnow_fingerprint_select": [
        # selection = one scan + one per-doc sliding window: a single
        # hash shuffle on doc_id, no joins at all
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("no_join", lambda p: "Join" not in p),
        ("windowed_by_doc", lambda p: "windowspecdefinition(doc_id" in p),
    ],
    "exact_substring_spans_winnow": [
        # numpy winnow prefilter: ONE Arrow kernel (the fingerprint pass),
        # one window-count shuffle on fp, cohort semi-join, then the same
        # per-doc island merge as the full path — no cartesian anywhere
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("arrow_winnow_kernel", lambda p: ("MapInPandas" in p) or ("ArrowEval" in p)),
        ("cohort_semi_join", lambda p: "LeftSemi" in p),
        ("islands_windowed_by_doc", lambda p: "windowspecdefinition(doc_id" in p),
    ],
    "exact_substring_scrub": [
        # the apply half: span machinery + ONE doc_id span-collect shuffle
        # + one left join back; the stitch is the HIGHER-ORDER aggregate
        # expression over the span array (match the HOF over the spans
        # column specifically — a bare 'aggregate(' would be satisfied by
        # any HashAggregate node), no UDF, no per-char explode
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python_stitch", lambda p: "BatchEvalPython" not in p),
        ("islands_windowed_by_doc", lambda p: "windowspecdefinition(doc_id" in p),
        ("hof_stitch_over_spans", lambda p: re.search(r"aggregate\(spans", p)),
    ],
    # NOTE: suffix_array_ranks deliberately has no entry — its returned
    # DataFrame is the last localCheckpoint, so the audited plan is just a
    # Scan ExistingRDD and any check against it would be vacuous. The
    # construction's plan properties are asserted structurally instead
    # (tests/test_suffix.py differential + the no-single-partition-window
    # design in operators/suffix.py). longest_repeated_substring IS
    # audited: everything after the last checkpoint (idx ranking, the LCP
    # join chain, the bounded top-k) appears in its plan.
    "longest_repeated_substring": [
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python", lambda p: "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("topk_take_ordered", lambda p: "TakeOrderedAndProject" in p),
    ],
    "blocklist_term_audit": [
        # one Arrow-batched automaton pass, spread ahead of the kernel
        # (single-file scans must not serialize the CPU work), no row-UDF,
        # no shuffle at all after the spread
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("single_kernel_pass",
         lambda p: _final_plan(p).count("MapInPandas") == 1),
        ("no_row_udf", lambda p: "BatchEvalPython" not in p),
        ("spread_before_kernel", lambda p: "Exchange" in _final_plan(p)
         and _final_plan(p).index("MapInPandas") < _final_plan(p).index("Exchange")),
    ],
    "training_shard_manifest": [
        # export accounting: one narrow projection + ONE shard-key shuffle,
        # all JVM expression work (md5/conv/bit_xor), no Python
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python", lambda p: "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("single_shuffle", lambda p: p.count("Exchange") <= 2),  # partial+final agg
        ("hash_agg", lambda p: "HashAggregate" in p),
    ],
    "substring_frequency_search": [
        # seed/refine joins over the (checkpointed) rank levels: pattern
        # side always broadcasts, candidates never cartesian, no Python
        # after construction, and the per-pattern rollup is a hash agg
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python_after_levels", lambda p: "BatchEvalPython" not in p),
        ("pattern_side_broadcast", lambda p: "BroadcastHashJoin" in p),
        ("rollup_hash_agg", lambda p: "HashAggregate" in p),
    ],
    "ann_bq_search": [
        # 1-bit tier: Hamming shortlist is a bounded top-k (TakeOrdered),
        # exact math only after a broadcast semi-join, JVM throughout
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python", lambda p: "BatchEvalPython" not in p and "MapInPandas" not in p),
        ("bounded_topk", lambda p: "TakeOrderedAndProject" in p),
        ("shortlist_broadcast", lambda p: "BroadcastHashJoin" in p),
    ],
    "pattern_continuation_counts": [
        # same engine + one unhinted join back to the corpus for the
        # following char (AQE picks broadcast when the match set is small)
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python_after_levels", lambda p: "BatchEvalPython" not in p),
        ("pattern_side_broadcast", lambda p: "BroadcastHashJoin" in p),
        ("rollup_hash_agg", lambda p: "HashAggregate" in p),
    ],
    "token_ngram_frequency_search": [
        # token-level matcher: same rank-table seed/refine joins as the
        # char path (key-type independent), pattern side broadcast
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python_after_levels", lambda p: "BatchEvalPython" not in p),
        ("pattern_side_broadcast", lambda p: "BroadcastHashJoin" in p),
        ("rollup_hash_agg", lambda p: "HashAggregate" in p),
    ],
    "pattern_token_continuations": [
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python_after_levels", lambda p: "BatchEvalPython" not in p),
        ("pattern_side_broadcast", lambda p: "BroadcastHashJoin" in p),
        ("rollup_hash_agg", lambda p: "HashAggregate" in p),
    ],
    "infinigram_backoff_inference": [
        # argmax context via a 1-ROW cross join (the only sanctioned
        # cartesian: the best-length aggregate), normalization via
        # broadcast totals — no unbounded nested loop, no Python
        ("no_python_after_levels", lambda p: "BatchEvalPython" not in p),
        # the 1-row argmax cross join compiles to BroadcastNestedLoopJoin;
        # an actual CartesianProduct anywhere would be a regression
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("rollup_hash_agg", lambda p: "HashAggregate" in p),
    ],
    "incremental_dup_spans": [
        # ingest door: new-side fingerprints/windows broadcast; corpus is
        # probed, never hash-shuffled on content; islands per new doc
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("broadcast_probe", lambda p: "BroadcastHashJoin" in p),
        ("no_sort_merge_join", lambda p: "SortMergeJoin" not in p),
        ("islands_windowed_by_doc", lambda p: "windowspecdefinition(doc_id" in p),
    ],
    "audio_fingerprint_incremental": [
        # asymmetric banding: new band rows broadcast, corpus streams
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("broadcast_probe", lambda p: "BroadcastHashJoin" in p),
        ("no_sort_merge_join", lambda p: "SortMergeJoin" not in p),
    ],
    "video_dhash_incremental": [
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("broadcast_probe", lambda p: "BroadcastHashJoin" in p),
        ("no_sort_merge_join", lambda p: "SortMergeJoin" not in p),
    ],
    "j3_caption_dead_letter_audit": [
        # caption dead-letter path: one scan through one Arrow stage,
        # shuffle-free (I3 is row-grained, never a repartition)
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("arrow_stage", lambda p: "MapInPandas" in p or "ArrowEval" in p),
        ("no_shuffle", lambda p: "Exchange" not in _final_plan(p)),
    ],
    "pii_redaction": [
        # regexp scrub is a pure map stage: one scan, zero shuffles, all
        # expressions inside codegen — nothing leaves the JVM
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("no_shuffle", lambda p: "Exchange" not in _final_plan(p)),
        ("no_python", lambda p: "Python" not in p and "ArrowEval" not in p),
        ("codegen", lambda p: "WholeStageCodegen" in p or "*(" in p),
    ],
    "intra_doc_repeat_len": [
        # suffix automaton over per-doc token arrays: one scan feeding one
        # Arrow-batched map — per-doc work, no keyed shuffle, no join.
        # r12: a round-robin spread exchange before the kernel is allowed
        # (measured win, 0.76→0.58 s — the heavy per-doc automaton runs on
        # every core instead of the single scan partition); a HASH or
        # RANGE exchange would still flag.
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("no_keyed_shuffle", lambda p: "Exchange hashpartitioning" not in _final_plan(p)
         and "Exchange rangepartitioning" not in _final_plan(p)),
        ("no_join", lambda p: "Join" not in p),
        ("arrow_map_stage", lambda p: "MapInPandas" in p),
    ],
    "html_extract_main": [
        # page synth + boilerplate removal: two chained Arrow maps over one
        # scan; the only exchange is the broadcast of the 1-row corpus count
        ("single_scan_pair", lambda p: _final_plan(p).count("FileScan") <= 2),
        ("no_shuffle_exchange", lambda p: "Exchange hashpartitioning" not in _final_plan(p)
         and "Exchange rangepartitioning" not in _final_plan(p)),
        ("arrow_map_stages", lambda p: p.count("MapInPandas") >= 2),
        ("broadcast_count_only", lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p),
    ],
    "nb_quality_classifier": [
        # NB train+score: counts shuffle on term, score shuffles tokens on
        # term + docs on doc_id — bounded fan of hash exchanges, no
        # cartesian blowup, no Python anywhere
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("partial_agg", lambda p: "partial" in p.lower()),
        ("no_cartesian_blowup", lambda p: "CartesianProduct" not in p),
        ("decimal_exact_sum", lambda p: "sum(w" in p or re.search(r"sum\([^)]*w", p)),
    ],
    "url_normalize_canonical": [
        # pure expression map: one scan, zero shuffles, zero Python
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("no_shuffle", lambda p: "Exchange" not in _final_plan(p)),
        ("no_python", lambda p: "Python" not in p and "ArrowEval" not in p),
        ("codegen", lambda p: "WholeStageCodegen" in p or "*(" in p),
    ],
    "warc_roundtrip_extract": [
        # WARC packaging (applyInPandas per archive) → parse+extract chain;
        # keyed shuffles limited to the archive grouping itself
        ("arrow_stages", lambda p: ("FlatMapGroupsInPandas" in p or "MapInPandas" in p)
         and p.count("MapInPandas") >= 2),
        ("no_join", lambda p: "Join" not in p or "BroadcastNestedLoopJoin" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "web_corpus_pipeline": [
        # funnel: Arrow chain → codegen filter → ONE global aggregate; the
        # only keyed shuffle belongs to count(DISTINCT text)
        ("partial_agg", lambda p: "partial" in p.lower()),
        ("single_result_row_agg", lambda p: "HashAggregate" in p or "SortAggregate" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "robots_politeness_filter": [
        # rules side is a broadcast dimension; URL side shuffles once for
        # the per-URL longest-match window
        ("rules_broadcast", lambda p: "BroadcastExchange" in p or "BroadcastHashJoin" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        # designed shape is THREE scans: the URL fact side, the distinct
        # (host, path) verdict side, and the hosts dimension — AQE may
        # collapse some via exchange reuse but must never add a fourth
        ("bounded_scans", lambda p: _final_plan(p).count("FileScan") <= 3),
    ],
    "token_budget_select": [
        # NO global sort: the boundary window partitions by the quantized
        # score (a hash exchange on score, never a range partition)
        ("no_global_sort", lambda p: "rangepartitioning" not in p.lower()),
        ("window_partitioned_by_score", lambda p: re.search(
            r"Exchange hashpartitioning\([^)]*score", p) is not None
         or "Window" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "corpus_distinct_ngrams": [
        # explode → two-level distinct aggregate; keyed on the uniform gram
        # space, partial aggregation present
        ("partial_agg", lambda p: "partial" in p.lower()),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "knn_graph_communities": [
        # iterated join-aggregate like pagerank: cached edges, keyed joins,
        # per-vertex top-1 windows — never a cartesian
        ("cached_edges", lambda p: "InMemoryTableScan" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("keyed_aggregate", lambda p: "HashAggregate" in p or "SortAggregate" in p),
    ],
    "bloom_incremental_dedup": [
        # the bitmap (≤ m/32 rows) and the truth confirm must broadcast —
        # the history is never shuffled against the incoming batch
        ("all_joins_broadcast", lambda p: "SortMergeJoin" not in p
         and "BroadcastHashJoin" in p),
        ("partial_bit_or", lambda p: "partial_bit_or" in p),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "heavy_hitters_cms": [
        # the ≤ depth×width grid broadcasts for the estimate join; the grid
        # build partial-aggregates map-side; top-15 is a heap not a sort
        ("all_joins_broadcast", lambda p: "SortMergeJoin" not in p
         and "BroadcastHashJoin" in p),
        ("partial_agg", lambda p: "partial" in p.lower()),
        ("topk_not_full_sort", lambda p: "TakeOrderedAndProject" in p),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "approx_distinct_hll_registers": [
        # register build partial-aggregates to ≤ m rows per partition; the
        # one-row estimate × one-row exact combine is the sanctioned
        # 1×1 cross join; no sort-merge anywhere
        ("partial_agg", lambda p: "partial_max" in p or "partial" in p.lower()),
        ("no_smj", lambda p: "SortMergeJoin" not in p),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
    ],
    "priority_weighted_sample": [
        # weighted sampling as a bounded heap — never a global sort
        ("topk_not_full_sort", lambda p: "TakeOrderedAndProject" in p),
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "kneser_ney_bigram_lm": [
        # KN training/scoring is pure word-count joins: every aggregate
        # partial-combines map-side; the only nested-loop join is the
        # broadcast of the 1-row (B, V) stats; JVM-side throughout
        ("partial_agg", lambda p: "partial_count" in p or "partial_sum" in p),
        ("stats_broadcast_only_bnlj", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" in p),
        ("no_global_sort", lambda p: "rangepartitioning" not in _final_plan(p)),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
    ],
    "unimax_language_budgets": [
        # one corpus-scale stage (the per-language token count, map-side
        # combined); the water-fill windows run over one row per language
        # behind a SinglePartition exchange, never a corpus-wide sort
        ("partial_agg", lambda p: "partial_count" in p or "partial_sum" in p),
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "image_dhash_corpus": [
        # PNG synth+decode+hash is the one Arrow-batched kernel; the docs
        # scan must be pruned to doc_id only (pixels are derived, not read)
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("arrow_batched_kernel", lambda p: "MapInPandas" in p),
        ("pruned_docs_scan", lambda p: "doc_id" in _read_schema(p, "documents")
         and "text" not in _read_schema(p, "documents")),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "image_dhash_neardup": [
        # banded Hamming LSH: the self-join shuffles on equality keys
        # (band_idx, band_val) — hash/sort-merge, never a nested loop or
        # cartesian; the exact Hamming filter is JVM bit_count, and no
        # global sort anywhere
        ("equi_band_join", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no_global_sort", lambda p: "rangepartitioning" not in _final_plan(p)),
        ("arrow_batched_kernel", lambda p: "MapInPandas" in p),
    ],
    "hard_negative_mining": [
        # query batch broadcast against the collection (non-equi exclusion
        # predicate → nested-loop is expected, but ONLY with a broadcast
        # side, never a shuffled cartesian); map-side bounded top-k pruning
        # before the ranking window
        ("broadcast_queries", lambda p: "BroadcastNestedLoopJoin" in p
         or "BroadcastHashJoin" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("local_topk_prune", lambda p: "MapInPandas" in p),
    ],
    "temperature_language_mixture": [
        # one corpus-scale aggregate (per-language token count, map-side
        # combined); everything after runs over one row per language
        ("partial_agg", lambda p: "partial_count" in p or "partial_sum" in p),
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "soft_dedup_weights": [
        # reweight-don't-remove dedup: shuffles only on gram (df count)
        # and doc_id (mean) — no pair enumeration, no n² join, JVM-side.
        # The gram relation feeds BOTH the df aggregate and the join-back,
        # so the pruned (doc_id, text) projection scans twice — the
        # deliberate trade: an equi-join (AQE skew-splittable on hot
        # stopword grams) instead of a window-over-gram (unsplittable hot
        # partition) or collect_list fan-back (OOM on a billion-doc gram)
        ("partial_agg", lambda p: "partial_count" in p or "partial_sum" in p),
        ("two_scans_max", lambda p: _final_plan(p).count("FileScan") <= 2),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "image_dhash_clusters": [
        # pairs → components: star contraction is iterative groupBy+join
        # rounds, never a cartesian; the pixel kernel is the one Arrow stage
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_global_sort", lambda p: "rangepartitioning" not in _final_plan(p)),
    ],
    "audio_fingerprint_corpus": [
        # WAV synth+parse+fingerprint is the one Arrow-batched kernel;
        # docs scan pruned to doc_id (samples are derived, not read)
        ("single_scan", lambda p: _final_plan(p).count("FileScan") == 1),
        ("arrow_batched_kernel", lambda p: "MapInPandas" in p),
        ("pruned_docs_scan", lambda p: "doc_id" in _read_schema(p, "documents")
         and "text" not in _read_schema(p, "documents")),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "audio_fingerprint_neardup": [
        # same modality-agnostic banded-Hamming join as the image path:
        # equality keys only, no nested loop, no global sort
        ("equi_band_join", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no_global_sort", lambda p: "rangepartitioning" not in _final_plan(p)),
        ("arrow_batched_kernel", lambda p: "MapInPandas" in p),
    ],
    "video_dhash_neardup": [
        # frame-aligned banded join (equality keys incl. frame_idx) + one
        # pair aggregation — no nested loop, no global sort; the container
        # walk + DIB decode is the one Arrow stage
        ("equi_band_join", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("pair_agg_partial", lambda p: "partial_count" in p),
        ("no_global_sort", lambda p: "rangepartitioning" not in _final_plan(p)),
        ("arrow_batched_kernel", lambda p: "MapInPandas" in p),
    ],
    "image_dhash_incremental": [
        # ingest-door shape: the new batch's band rows BROADCAST so the
        # corpus pays one scan with a map-side probe — no corpus shuffle
        ("new_side_broadcast", lambda p: "BroadcastHashJoin" in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_global_sort", lambda p: "rangepartitioning" not in _final_plan(p)),
        ("arrow_batched_kernel", lambda p: "MapInPandas" in p),
    ],
    "dedup_quality_canonical": [
        # cluster argmax is a window PARTITIONED by cluster_id (hash
        # exchange), never a corpus-wide range sort; components are the
        # iterative star-contraction joins — no cartesian anywhere
        ("no_global_sort", lambda p: "rangepartitioning" not in _final_plan(p)),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
    ],
    "quality_signal_fusion": [
        # three signal subtrees over the docs scan (heuristic=1, gopher=1,
        # soft-dedup=2 by design) + min-max normalization via ONE 6-value
        # broadcast — never a corpus-wide rank sort, JVM-side throughout
        ("partial_agg", lambda p: "partial_count" in p or "partial_sum" in p),
        ("cached_base", lambda p: "InMemoryTableScan" in p),
        ("no_global_sort", lambda p: "rangepartitioning" not in _final_plan(p)),
        ("no_python", lambda p: "Python" not in p and "MapInPandas" not in p),
        ("no_cartesian", lambda p: "CartesianProduct" not in p),
    ],
}


def _final_plan(plan: str) -> str:
    """AQE toString prints '== Final Plan ==' followed by '== Initial
    Plan =='; structural counts must look at the final section only."""
    return plan.split("== Initial Plan ==")[0]


def _read_schema(plan: str, table: str) -> str:
    """ReadSchema line of the scan over `table` (file path contains the name)."""
    out = []
    for m in re.finditer(r"FileScan parquet \[[^\]]*\][^\n]*", plan):
        seg = m.group(0)
        if table in seg:
            out.append(seg)
    # fall back: search the Location/ReadSchema block lines near the table name
    for m in re.finditer(r"ReadSchema: struct<[^>]*>", plan):
        out.append(m.group(0))
    return " ".join(out)


def _scan_count(plan: str, table: str) -> int:
    return len(re.findall(rf"FileScan parquet[^\n]*{table}", plan))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from frappe_data_pipelines_spark.plans.catalog import queries
    from frappe_data_pipelines_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    q = queries()

    results: dict[str, dict[str, bool]] = {}
    n_pass = n_fail = 0
    for name, checks in CHECKS.items():
        df = q[name](spark, sf_dir)
        df.collect()  # finalize AQE on df's own execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        results[name] = {}
        for check_name, pred in checks:
            try:
                ok = bool(pred(plan))
            except Exception:  # noqa: BLE001 — treat probe errors as failure
                ok = False
            results[name][check_name] = ok
            n_pass += ok
            n_fail += not ok
            if not ok:
                print(f"FAIL  {name}.{check_name}", file=sys.stderr)

    # --- catalog-wide rule: no unpartitioned Window over unbounded input ---
    # (VERDICT r7: the 245 shape checks above missed rrf_fuse's and
    # lm_perplexity_buckets' single-partition global windows because no
    # rule banned them.) Every catalog query's OPTIMIZED plan is swept —
    # plan-only, no execution — and any Window with an empty partition
    # spec fails the audit. There is no allowlist: windows whose input is
    # bounded by construction must key on guards.bounded_window_key,
    # which makes the spec non-empty (and documents the boundedness).
    from frappe_data_pipelines_spark.operators.planlint import (
        find_unpartitioned_windows,
    )

    gw_results: dict[str, bool] = {}
    for name, fn in q.items():
        try:
            offenders = find_unpartitioned_windows(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — a build error is a failure
            offenders = [f"query build error: {e}"]
        ok = not offenders
        gw_results[name] = ok
        n_pass += ok
        n_fail += not ok
        if not ok:
            print(f"FAIL  {name}.no_global_window: {offenders[0][:160]}",
                  file=sys.stderr)
    results["__no_global_window__"] = gw_results

    out = {"sf_dir": sf_dir, "checks_pass": n_pass, "checks_fail": n_fail, "results": results}
    print(json.dumps(out, indent=2))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLAN_AUDIT.json"), "w") as f:
        json.dump(out, f, indent=2)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
