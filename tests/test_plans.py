"""Physical-plan shape assertions — the scale contract. A query that
silently loses predicate pushdown, column pruning, or its broadcast
join still passes value checks at sf0.01 but dies at 100 TB; these
tests make plan regressions loud."""

from __future__ import annotations

import pytest

from listenbrainz_server_spark.queries import load_all

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(spark, registry, name: str) -> str:
    # cache_disabled: assert the direct-scan shape (what every table is
    # at 100 TB, where the catalog's size gate turns caching off) —
    # an InMemoryTableScan would hide PushedFilters/ReadSchema.
    from listenbrainz_server_spark.catalog import cache_disabled

    with cache_disabled():
        df = registry[name].fn(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def tree_of(plan: str) -> str:
    """The operator tree (detail sections repeat operator names)."""
    return plan.split("\n\n")[0]


def test_filter_pushdown_reaches_scan(spark, registry):
    plan = plan_of(spark, registry, "s1_pruned_scan")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning_reads_only_needed_cols(spark, registry):
    plan = plan_of(spark, registry, "s1_pruned_scan")
    # Count + group on shipdate alone: the 16-column lineitem scan
    # must narrow to exactly one column.
    assert "ReadSchema: struct<l_shipdate:timestamp_ntz>" in plan


def test_dim_join_broadcasts(spark, registry):
    plan = plan_of(spark, registry, "j1_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_two_hop_dims_both_broadcast(spark, registry):
    plan = plan_of(spark, registry, "j3_two_hop_join")
    assert tree_of(plan).count("BroadcastHashJoin") == 2


def test_semi_and_anti_join_strategies(spark, registry):
    semi = plan_of(spark, registry, "p8_semi_join")
    anti = plan_of(spark, registry, "p4_anti_join")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_global_topn_avoids_full_sort(spark, registry):
    plan = plan_of(spark, registry, "o1_global_topn")
    assert "TakeOrderedAndProject" in plan


def test_aggregate_is_partial_then_final(spark, registry):
    plan = plan_of(spark, registry, "a1_pricing_summary")
    # Two HashAggregates around one Exchange: map-side combine present.
    assert tree_of(plan).count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_windowed_session_reuses_single_exchange(spark, registry):
    # All three window steps share (user) partitioning — one shuffle.
    plan = plan_of(spark, registry, "w6_sessionize")
    assert tree_of(plan).count("Exchange") == 1


def test_unigram_and_domain_mix_broadcast_totals(spark, registry):
    """The 1-row totals in t_unigram_logprob / t_domain_mix must ride a
    broadcast exchange (the J15 grand-total pattern) — a shuffled join
    against a 1-row side would add a full extra exchange of the big
    side at 100 TB."""
    for name in ("t_unigram_logprob", "t_domain_mix"):
        tree = tree_of(plan_of(spark, registry, name))
        assert "BroadcastNestedLoopJoin" in tree or "BroadcastExchange" in tree, name


def test_interval_join_is_range_predicate_join(spark, registry):
    """st_interval_join in batch mode: equi key + event-time range — no
    cartesian product may appear (the key must be a join key, not a
    post-filter)."""
    tree = tree_of(plan_of(spark, registry, "st_interval_join"))
    assert "CartesianProduct" not in tree


def test_quality_calibration_single_source_exchange(spark, registry):
    """t_quality_calibrated: score projection + percent_rank must hang
    off ONE shuffle keyed by source (the window partition); a second
    exchange would mean the score or the keep flag re-shuffled."""
    tree = tree_of(plan_of(spark, registry, "t_quality_calibrated"))
    assert tree.count("Exchange") == 1
    assert "Window" in tree


def test_pack_histogram_no_cartesian_and_keyed_joins(spark, registry):
    """t_pack_length_histogram: generated seq ids left-join doc counts
    on (shard, seq_id) — keyed join only, no cartesian/BNLJ, and no
    Python evaluation anywhere (pure expressions)."""
    tree = tree_of(plan_of(spark, registry, "t_pack_length_histogram"))
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in tree


def test_contamination_exact_keyed_join_only(spark, registry):
    """d_contamination_exact: candidates must come from the md5(gram)
    equi join — never a train x bench nested loop."""
    tree = tree_of(plan_of(spark, registry, "d_contamination_exact"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BatchEvalPython" not in tree


def test_repetition_signals_zero_exchange(spark, registry):
    """t_repetition_signals folds every signal into per-row array
    expressions — the plan must be a map-only projection off the scan:
    zero exchanges, no Generate/explode, no Python evaluation."""
    tree = tree_of(plan_of(spark, registry, "t_repetition_signals"))
    assert tree.count("Exchange") == 0
    assert "BatchEvalPython" not in tree


def test_boilerplate_ngrams_keyed_joins_only(spark, registry):
    """t_boilerplate_ngrams: gram DF membership must come from a
    gram-keyed equi join — never a cartesian or nested loop."""
    tree = tree_of(plan_of(spark, registry, "t_boilerplate_ngrams"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BatchEvalPython" not in tree


def test_exact_substring_pairs_keyed_join_only(spark, registry):
    """d_exact_substring_pairs: candidates ride the md5(gram) equi
    join; the fine x coarse self-join must never nested-loop."""
    tree = tree_of(plan_of(spark, registry, "d_exact_substring_pairs"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BatchEvalPython" not in tree


def test_interleave_domains_map_only(spark, registry):
    """x_interleave_domains is pure per-row expansion: no exchange, no
    join, no Python evaluation — the shape that scales linearly."""
    tree = tree_of(plan_of(spark, registry, "x_interleave_domains"))
    assert tree.count("Exchange") == 0
    assert "Join" not in tree
    assert "BatchEvalPython" not in tree


def test_sq8_topk_no_cartesian_stats_broadcast(spark, registry):
    """v_sq8_topk: the 1-row min/max stats frame must ride a broadcast
    (J15 grand-total pattern) and the candidate/re-rank joins must be
    keyed — no CartesianProduct, no row-at-a-time Python."""
    tree = tree_of(plan_of(spark, registry, "v_sq8_topk"))
    assert "CartesianProduct" not in tree
    assert "BroadcastExchange" in tree
    assert "BatchEvalPython" not in tree


def test_centroid_outliers_broadcast_joins(spark, registry):
    """v_centroid_outliers: both the centroid and the moments frames
    are label-cardinality dims — they must ride broadcast hash joins,
    never a sort-merge of the corpus."""
    tree = tree_of(plan_of(spark, registry, "v_centroid_outliers"))
    assert tree.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in tree
    assert "BatchEvalPython" not in tree


def test_vocab_coverage_aggregates_before_window(spark, registry):
    """t_vocab_coverage: the global rank/cumsum window is only legal
    because its input is the data-reduced vocabulary — the plan must
    show the word-keyed partial+final aggregate BELOW the window, and
    no Python evaluation."""
    tree = tree_of(plan_of(spark, registry, "t_vocab_coverage"))
    assert tree.count("HashAggregate") >= 2
    assert "Window" in tree
    assert tree.index("Window") < tree.index("HashAggregate")
    assert "BatchEvalPython" not in tree


def test_listen_gini_window_over_value_reduction(spark, registry):
    """a_listen_gini: the prefix-sum window must sit ABOVE the double
    reduction (events → per-user counts → per-count-VALUE frame), so
    the single-partition exchange it implies carries |distinct count
    values| rows, never |users| (SURVEY §4.3's named hazard). No
    per-user rank survives in the plan and no Python evaluation."""
    tree = tree_of(plan_of(spark, registry, "a_listen_gini"))
    assert "Window" in tree
    # Both keyed reductions (user_id, then n) below the window:
    # partial+final pairs make >= 4 HashAggregates under it.
    below = tree[tree.index("Window"):]
    assert below.count("HashAggregate") >= 4
    assert "BatchEvalPython" not in tree


def test_quality_hist_no_per_source_doc_sort(spark, registry):
    """t_quality_calibrated_hist: the mega-domain contract — documents
    join a broadcast (source, bin) dim; the only Sort in the plan may
    be the dim-table cumsum window (source x 70 bins), never a sort of
    the document side (which would appear as a SortMergeJoin)."""
    tree = tree_of(plan_of(spark, registry, "t_quality_calibrated_hist"))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "BatchEvalPython" not in tree


def test_substring_spans_keyed_join_no_python(spark, registry):
    """d_substring_spans: anchors come from the md5(gram) equi join —
    never nested-loop — and islands merge in keyed windows; no Python
    evaluation anywhere."""
    tree = tree_of(plan_of(spark, registry, "d_substring_spans"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BatchEvalPython" not in tree
    assert "Window" in tree


def test_minhash_estimate_no_all_pairs(spark, registry):
    """d_minhash_estimate: exact Jaccard is computed only on the
    LSH-bounded candidate set — every join keyed, no cartesian, no
    Python evaluation."""
    tree = tree_of(plan_of(spark, registry, "d_minhash_estimate"))
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in tree


def test_bigram_logprob_keyed_joins_and_broadcast_total(spark, registry):
    """t_bigram_logprob: bigram/context/unigram joins are keyed equi
    joins; only the 1-row token total may ride a broadcast nested
    loop; no cartesian, no Python evaluation."""
    tree = tree_of(plan_of(spark, registry, "t_bigram_logprob"))
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in tree
    assert "BroadcastExchange" in tree


def test_curriculum_order_no_corpus_sort(spark, registry):
    """x_curriculum_order: phases come from a broadcast histogram-CDF
    dim join — no SortMergeJoin (which would imply sorting documents),
    no cartesian, no Python evaluation. The only Sort may be the
    70-row bin cumsum."""
    tree = tree_of(plan_of(spark, registry, "x_curriculum_order"))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "BatchEvalPython" not in tree


def test_watermark_sizing_single_exchange(spark, registry):
    """st_watermark_sizing: the running-max window and the per-user
    agg share hash(user_id) partitioning — exactly one exchange."""
    tree = tree_of(plan_of(spark, registry, "st_watermark_sizing"))
    assert tree.count("Exchange") == 1
    assert "BatchEvalPython" not in tree


def test_drift_ks_corpus_reduces_before_cdf(spark, registry):
    """x_length_drift_ks: the CDF windows run over the 2x32 bin grid,
    never documents — the plan must aggregate (partial+final) below
    the Window operators, with no Python evaluation."""
    tree = tree_of(plan_of(spark, registry, "x_length_drift_ks"))
    assert tree.count("HashAggregate") >= 2
    assert "Window" in tree
    assert tree.index("Window") < tree.index("HashAggregate")
    assert "BatchEvalPython" not in tree


def test_decayed_popularity_anchor_broadcast(spark, registry):
    """a_decayed_popularity: the 1-row anchor rides a broadcast; the
    decay agg keeps map-side combine (partial+final HashAggregate)."""
    tree = tree_of(plan_of(spark, registry, "a_decayed_popularity"))
    assert "BroadcastExchange" in tree or "BroadcastNestedLoopJoin" in tree
    assert tree.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in tree


def test_incremental_dedup_batch_scaled_join(spark, registry):
    """d_incremental_dedup: delta bands probe the base band index via
    a keyed equi join — no cartesian/nested-loop, no Python eval."""
    tree = tree_of(plan_of(spark, registry, "d_incremental_dedup"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BatchEvalPython" not in tree


def test_source_novelty_gram_keyed(spark, registry):
    """t_source_novelty: ownership joins ride the gram key."""
    tree = tree_of(plan_of(spark, registry, "t_source_novelty"))
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in tree


def test_epoch_manifest_doc_keyed(spark, registry):
    """x_epoch_manifest: the copies x phases composition joins on
    doc_id only — keyed join, no Python eval."""
    tree = tree_of(plan_of(spark, registry, "x_epoch_manifest"))
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in tree


def test_pii_mask_is_map_only(spark, registry):
    """PII masking must stay a pure scan-rewrite: any exchange or
    Python eval in a governance pass that rewrites every row of a
    100 TB corpus would dominate the pipeline."""
    tree = tree_of(plan_of(spark, registry, "x_pii_mask"))
    assert "Exchange" not in tree
    assert "BatchEvalPython" not in tree


def test_chunking_is_map_only(spark, registry):
    """RAG chunking is explode + slice — zero shuffles; the chunk id
    derives from the start offset so no window/ordinality sneaks a
    sort in."""
    tree = tree_of(plan_of(spark, registry, "t_chunk_documents"))
    assert "Exchange" not in tree
    assert "Window" not in tree


def test_dataset_card_single_doc_level_exchange(spark, registry):
    """The card's doc-level data passes through exactly two
    source-keyed aggregates (stats + lang counts) and the lang ranking
    window runs on the reduced (source, lang) table; the join back is
    broadcast. No exchange other than the two aggregates' shuffles."""
    tree = tree_of(plan_of(spark, registry, "x_dataset_card"))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_threshold_sweep_reuses_one_candidate_join(spark, registry):
    """The 9-point threshold sweep must NOT re-run the shingle
    self-join per sweep point: the pair table is pinned once and every
    downstream branch reads the pinned rows. Proof: the final plan
    contains no parquet scan at all — only the checkpointed RDD."""
    plan = plan_of(spark, registry, "d_threshold_sweep")
    tree = tree_of(plan)
    assert "Scan ExistingRDD" in tree
    assert "Scan parquet" not in tree


def test_tfidf_corpus_size_broadcasts(spark, registry):
    """The 1-row corpus-size side of t_tfidf_topterms must ride a
    broadcast, never a shuffled join of the tf table."""
    tree = tree_of(plan_of(spark, registry, "t_tfidf_topterms"))
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastExchange" in tree


def test_scd2_join_is_bucketized_not_cartesian(spark, registry):
    """The point-in-time join must go through the bucketized interval
    equi join — no cartesian/broadcast-nested-loop over facts, and the
    interval explode present."""
    tree = tree_of(plan_of(spark, registry, "j_scd2_join"))
    assert "CartesianProduct" not in tree
    assert "Generate explode" in tree or "Generate" in tree


def test_gini_window_runs_on_user_reduction(spark, registry):
    """The Gini rank window must sort the |users|-sized aggregate, not
    document/event-scale rows: the plan's window sits ABOVE the
    per-user aggregate (exactly two aggregates: per-user + final)."""
    tree = tree_of(plan_of(spark, registry, "a_listen_gini"))
    assert "Window" in tree
    # Formatted plans print top-down (outputs above inputs), so "the
    # window consumes an aggregate" = a HashAggregate appears BELOW
    # the Window node; a window directly over raw events would have
    # only a scan beneath it.
    win_pos = tree.index("Window")
    assert "HashAggregate" in tree[win_pos:]


def test_dau_wau_day_dim_broadcasts(spark, registry):
    """The rolling-window day-to-day join must broadcast the tiny day
    dim, never shuffle the distinct (day,user) table for it."""
    tree = tree_of(plan_of(spark, registry, "a_dau_wau"))
    assert "BroadcastNestedLoopJoin" in tree
    assert "CartesianProduct" not in tree


def test_band_join_is_bucketized_not_cartesian(spark, registry):
    """j_band_join: the |spend_a - spend_b| <= eps predicate must ride
    a bucket equi join (explode of 3 probe keys), never a nested-loop
    theta join — at 100 TB the naive form is |users|^2."""
    tree = tree_of(plan_of(spark, registry, "j_band_join"))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in tree, bad
    assert "Generate" in tree  # the 3-bucket probe fan-out
    assert "HashJoin" in tree  # bucket EQUI join carries the band


def test_range_search_band_keyed_no_cartesian(spark, registry):
    """v_range_search: candidates come from the (band_id, band key)
    equi self-join; no nested loop, and the exact score is computed
    only above the DISTINCT pair reduction (two id-keyed joins)."""
    tree = tree_of(plan_of(spark, registry, "v_range_search"))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in tree, bad
    assert "HashAggregate" in tree  # the pair DISTINCT reduction


def test_nearest_asof_single_exchange(spark, registry):
    """j_asof_nearest: both directional sweeps share the key
    partitioning — one hash exchange for the union-tag stream, no join
    node (the dual-window form must not plan as two separate
    shuffles of the merged stream)."""
    tree = tree_of(plan_of(spark, registry, "j_asof_nearest"))
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in tree, bad
    assert tree.count("Exchange") <= 3  # tag-union inputs + key window
