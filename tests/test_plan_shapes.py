"""Physical-plan regression tests: pin the plan PROPERTIES the scale
story depends on (pushdown reaching the scan, dims broadcast, top-N
without a global sort, no unexpected exchanges), so an optimizer-
hostile refactor fails CI instead of silently degrading at 100 TB.
PLANS.md shows the current numbers; these tests enforce the invariants.
"""

from __future__ import annotations

import pytest

from df_spark.queries import load_registry

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    sdf = load_registry()[name].fn(spark, SF_DIR)
    return sdf._jdf.queryExecution().executedPlan().toString()


def count_in(plan: str, token: str) -> int:
    return plan.count(token)


def test_q6_predicates_push_to_scan(spark):
    plan = plan_of(spark, "q6_revenue_forecast")
    assert "PushedFilters: [" in plan
    # the pure scan-filter-agg never shuffles data rows: one exchange
    # for the 1-row partial aggregates only
    assert count_in(plan, "Exchange") <= 1


def test_q3_topn_avoids_global_sort(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan


def test_q5_dims_broadcast(spark):
    # snowflake dims (supplier->nation->region) must reach the fact as
    # broadcast joins at test SF, never a shuffle of lineitem per dim
    plan = plan_of(spark, "q5_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sample_stratified_is_map_side(spark):
    # rate table broadcast + filter: the corpus must not shuffle
    plan = plan_of(spark, "sample_stratified")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_exact_single_uniform_shuffle(spark):
    plan = plan_of(spark, "dedup_exact")
    # fingerprint groupBy: exactly one exchange (hash on uniform md5 key)
    assert count_in(plan, "Exchange") == 1
    assert "HashAggregate" in plan


def test_cosine_topk_broadcasts_queries_no_corpus_shuffle(spark):
    plan = plan_of(spark, "cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only exchange of corpus rows feeds the final per-query top-k
    assert "Window" in plan


def test_chunk_docs_no_shuffle_at_all(spark):
    # pure map-side generator + projection
    plan = plan_of(spark, "chunk_docs")
    assert count_in(plan, "Exchange") == 0
    assert "Generate" in plan


def test_pack_sequences_single_partitioned_window(spark):
    plan = plan_of(spark, "pack_sequences")
    # one hash exchange on the shard key for the window — no global sort
    assert count_in(plan, "Exchange") == 1
    assert "Window" in plan


@pytest.mark.parametrize("name", ["events_tumbling", "events_sessions"])
def test_event_windows_scan_prunes_columns(spark, name):
    plan = plan_of(spark, name)
    # the parquet scan must not read the wide props column
    assert "ReadSchema" in plan
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "props" not in scan


def test_partitioned_sink_readback_prunes(spark):
    # the lang filter must resolve against the hive layout at planning
    # time (PartitionFilters), not as a row-level data filter
    plan = plan_of(spark, "parquet_partitioned_sink")
    assert "PartitionFilters" in plan
    i = plan.index("PartitionFilters")
    assert "lang" in plan[i : i + 200], "lang filter not applied to partitions"


def test_bm25_topk_and_broadcast_stats(spark):
    plan = plan_of(spark, "bm25_rank")
    # global top-k via per-partition heaps, corpus-stats rows broadcast
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_doc_rarity_vocab_broadcast(spark):
    # the vocabulary-sized frequency table must broadcast onto the
    # corpus-sized token table — never shuffle the token table per join
    plan = plan_of(spark, "doc_rarity")
    assert "BroadcastHashJoin" in plan


def test_profile_table_single_scan(spark):
    """The K-column profile reads the table ONCE (independent agg
    expressions + one Expand for the distinct counts) — not the K scans
    the equivalent per-column UNION (the oracle SQL) would do."""
    plan = plan_of(spark, "profile_table")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # the multi-count-distinct rewrite


def test_mv_incremental_no_base_rescan_shape(spark):
    """Incremental MV refresh: two pruned scans (base split + delta
    split of the same source here) feeding partial aggs, merged by one
    join — no third scan for a recompute."""
    plan = plan_of(spark, "mv_incremental")
    assert plan.count("Scan parquet") == 2
    assert "SortMergeJoin FullOuter" in plan or "ShuffledHashJoin FullOuter" in plan or "FullOuter" in plan


def test_rollup_hypertable_single_scan_expand(spark):
    """Three time granularities from ONE scan: GROUPING SETS compiles to
    a single Expand + hash aggregate — not the three scans the
    UNION-of-GROUP-BYs oracle spells."""
    plan = plan_of(spark, "rollup_hypertable")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_governance_queries_are_map_only(spark):
    # PII scrub and MIME sniff are scan-speed ingest ops: any Exchange
    # or Python eval in the plan is a regression
    for name in ("pii_redact", "mime_sniff"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name
        assert "EvalPython" not in plan, name


def test_events_regression_single_shuffle(spark):
    # map-side moment projection + one partial/final hash aggregate
    plan = plan_of(spark, "events_regression")
    assert count_in(plan, "Exchange") == 1
    assert count_in(plan, "HashAggregate") >= 2  # partial + final


def test_interval_overlap_no_second_agg_exchange(spark):
    # equi-join on custkey and the count reuse the same partitioning;
    # top-k via TakeOrderedAndProject (no global sort)
    plan = plan_of(spark, "interval_overlap_join")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_unpivot_single_scan_expand(spark):
    plan = plan_of(spark, "unpivot_metrics")
    assert "Expand" in plan
    assert count_in(plan, "Scan parquet") == 1


def test_inmem_dim_broadcasts_fact_unshuffled_prejoin(spark):
    plan = plan_of(spark, "inmem_source_join")
    assert "BroadcastHashJoin" in plan


def test_array_hof_stays_jvm_side(spark):
    plan = plan_of(spark, "array_hof")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_tree_depths_final_plan_is_flat(spark):
    # the pointer-doubling loop must leave only the checkpointed state
    # behind: re-planning prior rounds (Θ(2^rounds) growth) shows up as
    # parquet scans / joins in the FINAL plan
    plan = plan_of(spark, "tree_depths")
    assert count_in(plan, "Scan parquet") == 0
    assert count_in(plan, "Join") == 0


def test_shared_build_broadcasts_dictionary(spark):
    """The dedup build's shingle dictionary must reach the token stream
    as a broadcast join (the dim is charset^k-bounded), and the
    combined aggregate must keep h32/perm evaluation OFF the corpus
    rows — no sort-merge join anywhere in the build."""
    from df_spark.operators.dedup import _shared_build
    from df_spark.sources.tables import load_sdf

    docs = load_sdf(spark, SF_DIR, "documents")
    probe: list[str] = []
    combined = _shared_build(docs, memo=False, plan_probe=probe)
    cols = set(combined.columns)
    assert "n_sh" in cols and "m0" in cols and "m15" in cols
    assert "w0" in cols, "fixture corpus should be in the bitmap regime"
    # the pre-checkpoint physical plan, captured by the probe hook:
    # the charset^k-bounded dictionary must reach the token stream as a
    # broadcast join, never a sort-merge join
    assert len(probe) == 1
    assert "BroadcastHashJoin" in probe[0]
    assert "SortMergeJoin" not in probe[0]


def test_dup_span_stats_no_cartesian(spark):
    plan = plan_of(spark, "dup_span_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_banded_ngram_no_metadata_only_block_join(spark):
    """The candidate join must key on the band digest (bucket), never
    on metadata alone — the r5 quadratic regression guard."""
    plan = plan_of(spark, "ngram_jaccard")
    assert "bucket" in plan
    assert "CartesianProduct" not in plan


def test_prefix_sim_join_no_smj_bounded_exchanges(spark):
    """The r7 per-doc-array restructure plus the r8 band conjunct: no
    shingle-sized frame crosses an exchange, the dfreq attach
    broadcasts, no sort-merge join, and the verify tail carries sizes
    through the candidate pairs instead of joining them back (r8: 2
    exchanges, down from r7's 4 and the pre-r7 8 / 2 SMJ). The band
    signatures must appear in the candidate join's filter — the
    arrays_overlap conjunct is what keeps the candidate set
    output-bound at scale."""
    plan = plan_of(spark, "prefix_sim_join")
    assert "SortMergeJoin" not in plan
    assert count_in(plan, "Exchange") <= 3
    # the band signatures exist in the checkpointed per-doc build (the
    # arrays_overlap conjunct itself runs inside the candidate job,
    # upstream of the checkpoint this plan scans)
    assert "__bands" in plan


def test_cross_near_dups_no_smj(spark):
    plan = plan_of(spark, "cross_near_dups")
    assert "SortMergeJoin" not in plan
    assert count_in(plan, "Exchange") <= 4


def test_dpp_prunes_partitions(spark):
    """Dynamic partition pruning must fire on the partitioned-fact ⨝
    runtime-dim join: the scan's PartitionFilters carries a
    dynamicpruningexpression, so only matching lang directories are
    listed at execution time."""
    plan = plan_of(spark, "dpp_partition_prune")
    assert "dynamicpruning" in plan
    i = plan.index("PartitionFilters")
    assert "dynamicpruning" in plan[i:i + 300]


def test_join_hint_yields_shuffled_hash_join(spark):
    """The SHUFFLE_HASH hint must actually change the physical
    strategy: a silently-ignored hint (wrong side, lost through an
    alias, disabled by conf) would leave broadcast/SMJ and this row
    would be testing nothing."""
    plan = plan_of(spark, "join_hint_shuffle_hash")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_name_join_broadcasts_and_never_cartesian(spark):
    """The blocked fuzzy join must stay an equi-join on the block key
    with the tiny distinct-name relation broadcast — a lost block key
    (e.g. a refactor moving the levenshtein filter above the join
    condition) degrades to BroadcastNestedLoopJoin/cartesian, the
    O(n^2) shape blocking exists to prevent."""
    plan = plan_of(spark, "fuzzy_name_join")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_grouped_median_filter_broadcasts_medians(spark):
    """The per-lang medians relation is bounded (one row per lang) and
    must broadcast back onto the documents scan, not shuffle it."""
    plan = plan_of(spark, "grouped_median_filter")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_retention_sweep_broadcasts_policy_dim(spark):
    plan = plan_of(spark, "retention_sweep")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_seasonality_profile_single_aggregate_pass(spark):
    """Scan → partial agg → one exchange on the 168-key space → final
    agg; anything more means the calendar expressions stopped being
    map-side."""
    plan = plan_of(spark, "seasonality_profile")
    assert count_in(plan, "Exchange") <= 1
    assert count_in(plan, "HashAggregate") == 2


def test_ngram_repetition_no_window_no_udf(spark):
    """The repetition signals must stay explode → hash-aggregate (JVM,
    whole-stage) — no window operator (per-doc sort at scale) and no
    Python stage."""
    plan = plan_of(spark, "ngram_repetition")
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert count_in(plan, "HashAggregate") >= 4  # two partial+final pairs


def test_hard_negatives_broadcasts_anchors_no_corpus_shuffle(spark):
    # the anchor batch is the broadcast side; the corpus is scanned
    # map-side, scored, and only the per-anchor top-k window shuffles
    plan = plan_of(spark, "hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_dedup_two_keyed_exchanges(spark):
    # one shuffle on the chunk fingerprint (first-occurrence window),
    # one back on doc_id (reassembly aggregate) — nothing else
    plan = plan_of(spark, "chunk_dedup")
    assert count_in(plan, "Exchange") == 2
    assert "Window" in plan


def test_char_diversity_two_hash_aggregates(spark):
    # (doc, char) hash agg + per-doc re-agg; no window, no join
    plan = plan_of(spark, "char_diversity")
    assert "Window" not in plan
    assert count_in(plan, "Join") == 0


def test_vocab_oov_is_scan_shaped_inset(spark):
    # the vocab rides as an InSet literal: the per-doc pass has NO join
    plan = plan_of(spark, "vocab_oov_rate")
    assert count_in(plan, "Join") == 0


def test_merge_upsert_single_join_level(spark):
    # MERGE = ONE full-outer join on the key; clause gating is a
    # row-local filter/projection, never a second pass over the target
    plan = plan_of(spark, "merge_upsert")
    assert plan.count("FullOuter") == 1


def test_pq_quantize_broadcasts_codebook(spark):
    # the assignment joins the corpus-side dim explosion against the
    # 32-row codebook: that side must broadcast, never shuffle the
    # points; the only point shuffles are the two uniform-key
    # aggregates (distance groupBy, per-doc window). The registered
    # query's warm plan is the memoized codes checkpoint (ExistingRDD),
    # so pin the UNDERLYING assignment plan via the helpers.
    from df_spark.queries.similarity import _pq_assign, _pq_pts, _pq_train

    cent = _pq_train(spark, SF_DIR)
    a = _pq_assign(spark, _pq_pts(spark, SF_DIR), cent)
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # and the registered row reads the memoized checkpoint when warm
    warm = plan_of(spark, "pq_quantize")
    assert "ExistingRDD" in warm


def test_source_overlap_single_hash_shuffle_and_broadcast_sizes(spark):
    # the pair join keys on the shingle hash (uniform); the per-source
    # size table is bounded and must broadcast back onto pair rows
    plan = plan_of(spark, "source_overlap_matrix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bpe_tokenize_vocab_side_broadcasts(spark):
    # per-type symbol counts are vocabulary-sized: the corpus token
    # stream must not shuffle for the join (broadcast or AQE-broadcast)
    plan = plan_of(spark, "bpe_tokenize")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_dup_span_stats_windows_share_span_exchange(spark):
    # election row_number, doc dense_rank, and the per-span max ride
    # ONE hash(s) exchange; reassembly adds exactly one doc_id exchange
    plan = plan_of(spark, "dup_span_stats")
    assert "Window" in plan
    # exchanges: barrier repartition + hash(s) + hash(doc_id) [+ AQE
    # reuse nodes]; pin that no fourth data exchange appears
    assert count_in(plan, "Exchange") <= 4


def test_lm_quality_buckets_rides_memoized_scores(spark):
    # warm plan reads the memoized scoring checkpoint (ExistingRDD) —
    # the corpus is NOT re-scanned per consumer
    from df_spark.queries.tokens import _bigram_scored

    _bigram_scored(spark, SF_DIR)  # prime the memo
    plan = plan_of(spark, "lm_quality_buckets")
    assert "ExistingRDD" in plan


def test_media_near_dup_banded_join_no_cartesian(spark):
    # candidates come from the (band_idx, bucket) equi-join — never
    # all-pairs; the hash frame is a checkpoint (ExistingRDD), so the
    # decode/hash Python stage ran exactly once and blobs never enter
    # the join
    plan = plan_of(spark, "media_near_dup")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "MapInPandas" not in plan


def test_dedup_incremental_probes_index_no_cartesian(spark, monkeypatch):
    # sf0.001 is a one-task corpus: the fused verify and the generation
    # election run on the driver, whose (id, n_dup_partners) table
    # joins the batch docs as a local relation — no all-pairs step and
    # no Python stage
    from df_spark.operators import dedup as D

    plan = plan_of(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "LocalTableScan" in plan
    assert "MapInArrow" not in plan
    # past the broadcast cap one labelled (band_idx, bucket) equi-join
    # verifies every cross-generation pair, and each generation's
    # election reads the checkpointed verified pairs
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    plan = plan_of(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan


def test_audio_fp_near_dup_single_exchange_to_bands(spark):
    # bit derivation (window) and band aggregate share the media_id
    # partitioning; the candidate join is an equi-join off the
    # checkpointed band table — no all-pairs step
    plan = plan_of(spark, "audio_fp_near_dup")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "MapInPandas" not in plan  # blobs never reach the join plan


def test_video_frame_dedup_no_udf_no_cartesian(spark):
    # frame slice + hash are JVM-side (binary substring + md5): no
    # Python stage anywhere; the pair join is an equi-join on the
    # frame hash off the checkpointed frame table
    plan = plan_of(spark, "video_frame_dedup")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "ExistingRDD" in plan


def test_ann_incremental_broadcast_codebook_no_cartesian(spark):
    # the new-generation assignment is ONE broadcast join against the
    # bounded codebook + one hash aggregate off the memoized points
    # checkpoint — no all-pairs step, no corpus re-scan per consumer
    plan = plan_of(spark, "ann_incremental")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan


def test_ann_drift_audit_bounded_joins_no_cartesian(spark):
    # ADC probe = broadcast LUT equi-join off the memoized incremental
    # codes; the exact side broadcasts the bounded query sample (its
    # crossJoin is queries x corpus with the tiny side broadcast —
    # BroadcastNestedLoop over a 5-row build, never a shuffled
    # cartesian of two large sides)
    plan = plan_of(spark, "ann_drift_audit")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_multimodal_report_rides_checkpoints_no_cartesian(spark):
    # the four pair sets come from their memoized feature checkpoints
    # (ExistingRDD); no blob/decode stage and no all-pairs join appears
    # anywhere in the rollup plan
    from df_spark.queries.multimodal import (
        _audio_bands, _phash_feats, _video_frames)

    _phash_feats(spark, SF_DIR)
    _audio_bands(spark, SF_DIR)
    _video_frames(spark, SF_DIR)
    plan = plan_of(spark, "multimodal_dedup_report")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan
    assert "MapInPandas" not in plan


def test_triangle_counts_edge_iterator_shape(spark):
    # adjacency dims join the edge fact as broadcasts at this scale;
    # no wedge materialization means no shuffle carrying a ~E^1.5-row
    # stream — the only exchanges left are the edge distinct, the
    # degree/adjacency aggregates, and the final per-node rollup
    plan = plan_of(spark, "triangle_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan  # checkpointed directed edges + adj
