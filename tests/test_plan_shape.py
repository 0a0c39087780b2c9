"""Physical-plan-shape assertions — the scale contract.

Correctness says the rows match; these tests say the *plan* is the one that
survives 100 TB: filters reach the parquet scan (row-group pruning),
dimensions broadcast (no shuffle of the big side), aggregation is partial
before the shuffle, order+limit is a distributed top-k, and nothing
degenerates into a cartesian product.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from mutable_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark):
    def get(name, mode="formatted"):
        return explain(registry.QUERIES[name](spark, SF_DIR), mode)

    return get


def test_q6_filters_pushed_to_scan(plans):
    p = plans("tpch_q6")
    assert "PushedFilters:" in p
    # the discount/quantity range predicates must reach the reader
    pushed = [l for l in p.splitlines() if "PushedFilters:" in l][0]
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_q14_broadcasts_part_dimension(plans):
    p = plans("tpch_q14")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_nary_join_broadcasts_and_no_cartesian(plans):
    p = plans("op_join_nary")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q1_partial_aggregation(plans):
    # map-side partial + final: two HashAggregate levels around the shuffle
    p = plans("tpch_q1")
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_order_limit_is_topk(plans):
    p = plans("op_order_limit_offset")
    assert "TakeOrderedAndProject" in p


def test_theta_join_uses_equi_conjunct(plans):
    # the equi part (n_regionkey) must become the join key; the '<' is a
    # residual condition — NOT a nested-loop cartesian
    p = plans("op_join_theta")
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p)


def test_dialect_join_no_cartesian(plans):
    p = plans("dialect_join_group_having")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


def test_scan_prunes_columns(plans, spark):
    # projection-only query must not read every column (ReadSchema pruning)
    df = registry.QUERIES["op_filter_cnf"](spark, SF_DIR)
    p = explain(df)
    rs = [l for l in p.splitlines() if "ReadSchema" in l]
    assert rs and "l_extendedprice" in rs[0] and "l_tax" not in rs[0]


def test_semi_join_plan(plans):
    p = plans("op_join_semi")
    assert "LeftSemi" in p or "left_semi" in p.lower()


def test_pipeline_uses_lsh_tier_no_cartesian(plans):
    # the curation pipeline's near-dup stage must be the LSH tier: no
    # cartesian/nested-loop expansion, no forced broadcast of the
    # unbounded dropped-doc set (Catalyst/AQE decides the anti-join side)
    p = plans("pipeline_clean_corpus")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embedding_neardup_is_blocked_equi_join(plans):
    # blocked by quantizer cell: an equi-join on the cell id carrying the
    # cosine threshold — never a cartesian/BNLJ all-pairs expansion
    p = plans("dedup_embedding_cosine")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)


def test_funnel_is_window_pass_not_interval_join(plans):
    # the next-click computation must be the reverse running-min window,
    # not a view x click interval self-join
    p = plans("events_funnel")
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" not in p  # no join operator anywhere in the plan


def test_vocab_topk_partial_agg_and_topk(plans):
    # wordcount shape: map-side partial aggregation before the shuffle,
    # distributed top-k finish instead of a global sort
    p = plans("text_vocab_topk")
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p


def test_train_test_split_partial_agg(plans):
    # the split itself is a pure map; the only shuffle is the 2-group
    # summary aggregate, with map-side partials
    p = plans("pipeline_train_test_split")
    assert "partial_count" in p
    assert "Join" not in p


def test_decontaminate_is_broadcast_anti_join(plans):
    # the blocklist must broadcast and apply as LEFT ANTI during the scan
    # — the corpus itself is never shuffled for the screen
    p = plans("pipeline_decontaminate")
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_fuzzy_decontaminate_no_cartesian(plans):
    """The cross-corpus LSH tier stays an equi-join pipeline: no cartesian
    or broadcast-nested-loop anywhere, and the final keep is an anti join."""
    p = plans("pipeline_decontaminate_fuzzy")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert "LeftAnti" in p


def test_ivf_train_broadcasts_centroids_no_cartesian(plans):
    """Lloyd rounds join the exploded vectors against the k x 64-row
    centroid side as a broadcast hash join — the corpus never shuffles for
    the join — and aggregation is partial before each shuffle."""
    p = plans("sim_ivf_train")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p or "partial_min" in p or "HashAggregate" in p


def test_retention_single_scan(plans, spark):
    """events_retention scans events exactly once: the cohort day is a
    window min over the post-distinct activity frame, not a second
    aggregate branch over the raw events."""
    p = plans("events_retention", mode="simple")
    assert p.count("Scan parquet") == 1
    assert "Window" in p


def test_mix_sources_zero_preaggregate_shuffle(plans):
    """pipeline_mix_sources is a pure map during the scan: the only
    exchange is the final per-source summary."""
    p = plans("pipeline_mix_sources")
    assert p.count("Exchange hashpartitioning") <= 1
    assert "CartesianProduct" not in p


def test_pii_scrub_map_only(plans):
    # pure column expressions over the scan: no exchange anywhere
    p = plans("text_pii_scrub")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_repetition_filter_two_partial_aggs(plans):
    # (doc,bigram) then doc aggregation, each partial+final around its
    # exchange — 4 HashAggregates, 2 exchanges; no joins
    p = plans("text_repetition_filter", "simple")
    assert p.count("Exchange") == 2
    assert "Join" not in p
    assert p.count("HashAggregate") == 4


def test_stratified_sample_broadcasts_strata(plans):
    # the tiny stratum-count frame broadcasts; the corpus is never
    # shuffled before the final summary aggregation
    p = plans("pipeline_stratified_sample")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_pack_sequences_single_shard_shuffle(plans):
    # one exchange (the shard key) feeding one running-sum window
    p = plans("pipeline_pack_sequences", "simple")
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_knn_join_broadcasts_queries(plans):
    # query batch broadcasts — the corpus side is scanned exactly once
    p = plans("sim_knn_join")
    assert "Broadcast" in p
    assert "SortMergeJoin" not in p


def test_curriculum_sharded_no_global_sort(plans):
    """pipeline_curriculum_sharded's NTILE partitions by the shard key:
    the window exchange is hashpartitioning(shard), never the
    SinglePartition exchange a global NTILE (pipeline_curriculum_order)
    pays — the whole point of the sharded deployment shape."""
    p = plans("pipeline_curriculum_sharded")
    assert "Window" in p
    assert "SinglePartition" not in p
    assert "hashpartitioning" in p


def test_contamination_stats_corpus_never_shuffles(plans):
    """pipeline_contamination_stats: the eval shingle set broadcasts and
    the training corpus semi-joins against it map-side; only the matched
    subset (bounded by the eval set) reaches a shuffle. No sort-merge
    join anywhere."""
    p = plans("pipeline_contamination_stats")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_verbatim_ngrams_no_joins(plans):
    """dedup_verbatim_ngrams is two partial-agg'd shuffles (gram groupBy,
    pair count) with in-row pair expansion — no joins, no cartesian."""
    p = plans("dedup_verbatim_ngrams", "simple")
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert p.count("Exchange") == 2


def test_full_outer_join_aggregates_before_join(plans):
    """op_join_full_outer aggregates each base table BEFORE the (never
    broadcastable) full outer join, so the sort-merge runs over
    post-aggregation key frames; both base-table filters reach the scans."""
    p = plans("op_join_full_outer")
    assert "FullOuter" in p or "HashAggregate" in p  # AQE may prune a side
    assert "CartesianProduct" not in p
    assert "GreaterThan(c_acctbal,9900.0)" in p
    # partial aggregation upstream of every exchange
    assert "partial_count" in p


def test_token_budget_sample_single_exchange(plans):
    # one source-key exchange feeding the quality-ordered running sum
    p = plans("pipeline_token_budget_sample", "simple")
    assert p.count("Exchange") == 1
    assert "Window" in p
    assert "SinglePartition" not in p


def test_interarrival_window_feeds_partial_agg(plans):
    """events_interarrival: one user-key exchange; the LAG window and the
    partial aggregate share the stage (no second exchange before the
    final agg's key is already user_id)."""
    p = plans("events_interarrival", "simple")
    assert p.count("Exchange") == 1
    assert "Window" in p
    assert "partial_count" in plans("events_interarrival")


def test_end_to_end_pipeline_plan(plans):
    """pipeline_end_to_end: the map-side stages (mix, quality, digest)
    fuse into ONE corpus scan stage; dedup/budget/pack are the three
    corpus shuffles; the eval blocklist broadcasts into a LeftAnti; no
    sort-merge join, no cartesian anywhere."""
    p = plans("pipeline_end_to_end")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    simple = plans("pipeline_end_to_end", "simple")
    # 3 corpus exchanges (digest, source, shard) + 1 tiny eval-set
    # distinct + its broadcast exchange
    assert simple.count("Exchange") == 5
    assert simple.count("Window") == 3


def test_quantized_rerank_broadcast_topk(plans):
    """sim_quantized_rerank: the 1-row query broadcasts, both stage
    top-k's are TakeOrderedAndProject (no global Sort+Exchange), and the
    only nested-loop is the broadcast query join."""
    p = plans("sim_quantized_rerank")
    assert "Broadcast" in p
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_lm_surprisal_model_aggregates_partial(plans):
    """text_lm_surprisal: the bigram model is built with map-side partial
    aggregation (two HashAggregate levels around each model shuffle), the
    1-row vocabulary frame broadcasts into a nested-loop (by
    construction, the only one), and the count-table joins never
    degenerate into a cartesian."""
    p = plans("text_lm_surprisal")
    assert "HashAggregate" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row V crossJoin
    assert "CartesianProduct" not in p
    simple = plans("text_lm_surprisal", "simple")
    # exactly one nested-loop: the broadcast V frame
    assert simple.count("NestedLoopJoin") == 1


def test_attribution_filters_pushed_no_cartesian(plans):
    """events_attribution: both event_type filters reach the parquet scan,
    the user join never degenerates into a cartesian (the equi-key rides
    the hash join; the interval bounds post-filter), and the rank-1
    window runs over the matched pairs only."""
    p = plans("events_attribution")
    assert "PushedFilters" in p and "event_type" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_source_overlap_has_no_joins(plans):
    """pipeline_source_overlap: the whole matrix computes as a groupBy
    chain — per-gram source sets expand IN-ROW (bounded by the source
    count), so the plan contains no join operator of any kind."""
    p = plans("pipeline_source_overlap")
    assert "Join" not in p
    assert "HashAggregate" in p or "ObjectHashAggregate" in p


def test_mix_temperature_broadcasts_rates(plans):
    """pipeline_mix_temperature: the per-source rate frame broadcasts
    back onto the scan (corpus never shuffles before the summary) and
    the only nested-loop is the 1-row totals crossJoin."""
    p = plans("pipeline_mix_temperature")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_chunk_sliding_no_shuffles(plans):
    """text_chunk_sliding: pure per-row pipeline — Generate (the
    sequence explode) is the only row multiplier; no Exchange, no join,
    no aggregate anywhere."""
    simple = plans("text_chunk_sliding", "simple")
    assert "Exchange" not in simple
    assert "Join" not in simple
    assert "Generate" in simple


def test_length_buckets_broadcasts_global_max(plans):
    """pipeline_length_buckets: the 1-row global-max frame broadcasts
    (nested-loop by construction); the bucket aggregate is partial."""
    p = plans("pipeline_length_buckets")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_markov_transitions_window_then_partial_agg(plans):
    """events_markov_transitions: one user-key window exchange feeding a
    partial-agg'd transition groupBy; no joins."""
    simple = plans("events_markov_transitions", "simple")
    assert "Join" not in simple
    assert "Window" in simple


def test_cooccurrence_two_exchanges_no_join(plans):
    """events_cooccurrence: the in-row pair expansion replaces the
    oracle's quadratic self-join — exactly TWO exchanges (the user-key
    window shuffle, which the session collect_set groupBy reuses since
    hash(user_id) satisfies the (user_id, session_idx) clustering, and
    the tiny pair-key agg), and no join operator anywhere."""
    simple = plans("events_cooccurrence", "simple")
    assert "Join" not in simple
    assert simple.count("Exchange hashpartitioning") == 2
    assert "Window" in simple


def test_hard_negatives_broadcast_batch(plans):
    """sim_hard_negatives: the query batch broadcasts (the only
    nested-loop), one corpus scan, per-query rank window — no
    sort-merge join, no cartesian."""
    p = plans("sim_hard_negatives")
    assert "Broadcast" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_bpe_pairs_aggregates_over_vocab_not_stream(plans):
    """text_bpe_pairs: the pair expansion hangs off the ALREADY-AGGREGATED
    word-frequency frame (two partial-agg exchanges: word counts, pair
    counts), the finish is a distributed top-k, and there are no joins —
    the corpus size only enters through `freq`."""
    simple = plans("text_bpe_pairs", "simple")
    assert "Join" not in simple
    assert simple.count("Exchange hashpartitioning") == 2
    assert "TakeOrderedAndProject" in simple
    p = plans("text_bpe_pairs")
    assert "HashAggregate" in p  # partial+final pairs


def test_tfidf_terms_dictionary_join_and_bounded_window(plans):
    """text_tfidf_terms: df joins back to tf by token (AQE decides the
    broadcast — dictionary-join rationale as text_rarity_score), N
    arrives as an explicit broadcast single-row cross join, and the rank
    window partitions by doc_id — never a global sort."""
    p = plans("text_tfidf_terms")
    assert "BroadcastNestedLoopJoin" in p  # the 1-row N frame
    assert "CartesianProduct" not in p
    simple = plans("text_tfidf_terms", "simple")
    assert "Sort [score_q" not in simple.replace("#", " ")  # no global sort
    assert "Window" in simple


def test_path_trigrams_one_window_sort_two_leads(plans):
    """events_path_trigrams: both LEADs share one user-key window
    exchange+sort; the path groupBy partial-aggs; no joins."""
    simple = plans("events_path_trigrams", "simple")
    assert "Join" not in simple
    assert simple.count("Exchange hashpartitioning") == 2  # window + agg
    assert simple.count("Window") == 1


def test_dedup_stats_two_partial_agg_exchanges(plans):
    """pipeline_dedup_stats: digest groupBy then class-size groupBy, both
    with map-side partials; nothing else moves."""
    simple = plans("pipeline_dedup_stats", "simple")
    assert "Join" not in simple
    assert simple.count("Exchange") == 2
    p = plans("pipeline_dedup_stats")
    assert p.count("HashAggregate") >= 4  # partial+final × 2


def test_bucketed_join_zero_exchanges(spark):
    """op_join_bucketed: the WHOLE plan — scan, join, per-order agg —
    runs with ZERO Exchange operators: bucketed storage carries the
    partitioning, and the groupBy key equals the bucket key. (Broadcast
    disabled so the small test tables can't sidestep the claim.)"""
    from tests.conftest import SF_DIR

    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = with_conf.get("spark.sql.adaptive.enabled")
    # build the frame FIRST: the query fn's load_tables() re-applies the
    # session RUNTIME_CONFS, which would clobber the overrides below;
    # planning happens lazily at explain time, after the overrides
    df = registry.QUERIES["op_join_bucketed"](spark, SF_DIR)
    try:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with_conf.set("spark.sql.adaptive.enabled", "false")
        simple = explain(df, "simple")
        assert "Exchange" not in simple
        assert "SortMergeJoin" in simple
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        with_conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_anomaly_mad_single_exchange_shared_partitioning(plans):
    """events_anomaly_mad: the med window, the mad window, and the final
    groupBy all share hash(event_type) — ONE exchange in the whole
    plan, two window sorts, no joins."""
    simple = plans("events_anomaly_mad", "simple")
    assert "Join" not in simple
    assert simple.count("Exchange hashpartitioning") == 1
    assert simple.count("Window") == 2


def test_pair_histogram_broadcast_sample_partial_agg(plans):
    """sim_pair_histogram: the sampled side broadcasts (the a<b pair
    expansion is a broadcast nested loop over the tiny sample, never a
    shuffle of the embedding table), and the histogram groupBy partial-
    aggs before its single exchange."""
    p = plans("sim_pair_histogram")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "partial" in p.lower()


def test_partitioned_scan_prunes_at_planning_time(plans):
    """source_partitioned_scan: the 7-day window resolves against the
    hive-style date dirs — PartitionFilters carry the range, and the
    selected partition count is the window, not the table."""
    p = plans("source_partitioned_scan")
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf and "d#" in pf[0].replace("d #", "d#")
    assert "(d" in pf[0]  # the range predicate reached the partition filter


def test_orc_scan_pushes_filters_and_prunes_columns(plans):
    """source_orc_roundtrip: the ORC reader gets the same pushdown +
    pruning surface as parquet — the n_chars predicate reaches the
    scan and only the four referenced columns are read."""
    p = plans("source_orc_roundtrip")
    assert "Scan orc" in p or "Format: ORC" in p or "orc" in p.lower()
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "n_chars" in pushed[0]
    rs = [l for l in p.splitlines() if "ReadSchema" in l]
    assert rs and "doc_id" not in rs[0]  # unreferenced column pruned


def test_salted_agg_two_phase(plans):
    """op_agg_salted: two aggregation phases around two exchanges — the
    first keyed by (event_type, salt) so hot keys spread, the second
    re-combining ≤ n_salts partials per key; no joins."""
    simple = plans("op_agg_salted", "simple")
    assert "Join" not in simple
    assert simple.count("Exchange hashpartitioning") == 2
    assert "__salt" in simple
    p = plans("op_agg_salted")
    assert p.count("HashAggregate") >= 4


def test_pagerank_broadcast_rank_vector_no_cartesian(plans):
    """events_pagerank: each unrolled round joins the edge list against
    the (broadcast-small) rank vector — no cartesian, no sort-merge of
    the edge list, partial aggs on the destination key."""
    p = plans("events_pagerank")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_salted_join_shuffled_hash_no_broadcast(plans):
    """op_join_salted: the dimension side must NOT auto-broadcast (that
    would skip the salted placement this op gates) — the SHUFFLE_HASH
    hint pins a ShuffledHashJoin on the (key, salt) pair, and the salt
    column is present in the join keys."""
    p = plans("op_join_salted", "simple")
    assert "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin" in p
    assert "__salt" in p


def test_boilerplate_grams_partial_aggs_dictionary_join(plans):
    """text_boilerplate_grams: the gram document-frequency dictionary is
    a partial-agg groupBy; the stream joins back to it (AQE decides
    broadcast at runtime), and the per-doc rollup is partial-agg'd too.
    No cartesian anywhere."""
    p = plans("text_boilerplate_grams")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 4  # partial+final × (dfreq, per-doc)


def test_window_time_range_single_exchange(plans):
    """op_window_time_range: ONE shuffle (hashpartitioning on user_id)
    feeding a sorted window — the range frame is a streaming two-pointer
    pass, not a self-join."""
    p = plans("op_window_time_range", "simple")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "RANGE BETWEEN" in p or "specifiedwindowframe" in p.lower() or "Window" in p


def test_embedding_covariance_chained_generates_partial_agg(plans):
    """sim_embedding_covariance: the d² pair expansion is two chained
    Generates (map-local), never a vec_id self-join — the moment pass's
    only exchange is the 2,080-key partial agg; the first-moment
    join-backs broadcast."""
    p = plans("sim_embedding_covariance")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("Generate") >= 2
    assert "BroadcastHashJoin" in p


def test_leakage_safe_split_no_mandatory_broadcast(spark):
    """pipeline_split_leakage_safe (r10, verdict #5): the class-map join
    must carry NO broadcast hint — at 100 TB the near-dup class map is
    tens of percent of the corpus (billions of rows), so a forced
    F.broadcast() is a driver OOM, not an optimization. AQE may still
    choose broadcast at runtime when the map measures small; what we pin
    is that the LOGICAL plan contains no mandatory hint."""
    df = registry.QUERIES["pipeline_split_leakage_safe"](spark, SF_DIR)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in logical
    assert "broadcast" not in logical.lower().replace(
        "broadcastable", ""
    ), "class-map join must stay unhinted (AQE decides)"


def test_group_join_reuses_join_partitioning(plans):
    """op_group_join (r10): the grouping key IS the join key, so the
    aggregation must REUSE the shuffled join's hash partitioning — the
    Spark expression of the reference's fused HashBasedGroupJoin.
    Exactly 2 Exchanges (one per join input), partial+final HashAggregate
    directly over the join, no third exchange."""
    p = plans("op_group_join", "formatted")
    assert "ShuffledHashJoin" in p
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p
    assert p.count("HashAggregate") >= 2


def test_bm25_rank_topk_no_data_shuffle(plans):
    """text_bm25_rank (r10): in-row tf (no explode), ONE global stats
    aggregate broadcast back as a single row (the BroadcastNestedLoopJoin
    is the 1-row-broadcast pattern, not a data cartesian), and a
    distributed top-k finish. The corpus itself never hash-exchanges."""
    p = plans("text_bm25_rank")
    assert "TakeOrderedAndProject" in p
    assert "Generate" not in p  # no explode — tf is an in-row array fold
    assert "Exchange hashpartitioning" not in p


def test_q4_semi_join_shape(plans):
    """tpch_q4 (r10): the correlated EXISTS plans as a LeftSemi join —
    each order emitted at most once — with the quarter filter pushed to
    the orders scan."""
    p = plans("tpch_q4")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "PushedFilters:" in p


def test_q22_anti_join_no_division(plans):
    """tpch_q22 (r10): NOT EXISTS plans as a LeftAnti join; the
    above-average threshold cross-multiplies in decimal (no division
    node feeding the comparison)."""
    p = plans("tpch_q22")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_containment_df_cap_before_self_join(plans):
    """dedup_containment (r10): the document-frequency cap must filter
    the posting list BEFORE the shingle self-join (the prune that bounds
    fan-out at cap² per shingle), and the pair rollup is a partial agg.
    No cartesian anywhere; sizes ride the posting rows (no join-back to
    a sizes frame)."""
    p = plans("dedup_containment")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 4  # df cap agg + pair agg, partial+final


def test_pq_train_broadcast_centroids_no_cartesian(plans):
    """sim_pq_train (r10): the per-round distance pass joins the
    posexploded scan against BROADCAST centroids (M·k·subdim rows) —
    never a shuffle of the vector side against centroids, never a
    cartesian; all aggregations are partial-agg'd."""
    p = plans("sim_pq_train")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 6


def test_cusum_windows_over_buckets_not_events(plans):
    """events_changepoint_cusum (r10): the window sort must run over the
    (type, hour) BUCKET series, downstream of the count aggregation —
    never over raw events. Plan order pinned: the partial-agg count
    appears below the window sort."""
    p = plans("events_changepoint_cusum", "simple")
    assert "Window" in p
    # plans print root-first: the deepest node is LAST. The (type, hour)
    # count HashAggregate must sit BELOW every Window (later in the text)
    assert p.rindex("HashAggregate") > p.rindex("Window"), p
    assert "date_trunc" in p[p.rindex("HashAggregate"):] or "date_trunc" in p
    assert "CartesianProduct" not in p


def test_pq_recall_broadcast_adc_table_no_cartesian(plans):
    """sim_pq_recall (r10): the ADC distance table (M·k rows) and the
    query sub-vectors broadcast; the code-assignment join and both
    top-10s never produce a cartesian, and both rankings finish as
    distributed top-k."""
    p = plans("sim_pq_recall")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_pq_search_broadcast_shortlist_no_second_corpus_scan(plans):
    """sim_pq_search (r11): the two-stage ANN serving shape. The ADC
    shortlist and the query sub-vectors broadcast into the rerank join
    (the corpus side never shuffles for them), nothing degenerates into
    a cartesian, both stages finish as distributed top-k, and the
    vector scan materializes ONCE — the cached posexplode serves the
    trainer, the shortlist, the rerank, and the evaluation; serving
    never re-reads the parquet corpus."""
    p = plans("sim_pq_search")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    # the embeddings parquet is scanned only below the shared cache:
    # InMemoryTableScan nodes must outnumber raw parquet scans of the
    # embeddings file in the serving plan
    assert "InMemoryTableScan" in p


def test_q7_nation_pair_broadcasts_no_cartesian(plans):
    """tpch_q7 (r11): the disjunctive two-nation pair test runs as
    broadcast probes against the 25-row nation dims — the fact table
    pipelines through one stage and only the 4-key year rollup (plus its
    ORDER BY) exchanges. The date filter reaches the lineitem scan."""
    p = plans("tpch_q7")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "PushedFilters:" in p
    pushed = [l for l in p.splitlines() if "PushedFilters:" in l]
    assert any("l_shipdate" in l for l in pushed)


def test_q8_every_dimension_broadcasts(plans):
    """tpch_q8 (r11): all seven dimension joins of the snowflake
    broadcast; lineitem never hash-exchanges for a join — the only data
    exchange is the 2-key year rollup. No division node feeds a filter
    (the share divides once, in the projection, from two exact BIGINTs)."""
    import re

    p = plans("tpch_q8")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # rollup + sort exchanges only — the fact side's join pipeline is
    # exchange-free
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2, p


def test_q13_outer_join_condition_stays_in_join(plans):
    """tpch_q13 (r12): customers with only excluded orders must still
    appear with c_count = 0 — the outer join survives (LeftOuter, with
    COALESCE supplying the zero), but the orders side pre-aggregates to
    one row per custkey BEFORE the join, so the join moves counts, not
    raw orders."""
    p = plans("tpch_q13")
    assert "LeftOuter" in p
    assert "CartesianProduct" not in p
    assert "coalesce" in p
    assert p.count("HashAggregate") >= 4  # orders rollup + histogram


def test_q15_argmax_single_fact_rollup(plans):
    """tpch_q15 (r11): ONE rollup on l_suppkey over the quarter-filtered
    scan; the MAX scalar subquery reuses that rollup (subquery-duplicate
    exchange at worst) and the supplier dim broadcasts. The quarter
    filter reaches the scan."""
    p = plans("tpch_q15")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    pushed = [l for l in p.splitlines() if "PushedFilters:" in l]
    assert any("l_shipdate" in l for l in pushed)


def test_q17_decorrelated_avg_no_cartesian(plans):
    """tpch_q17 (r11): the correlated per-part AVG is a partial-agg
    rollup joined back on l_partkey, not a re-scan per row; the
    cross-multiplied threshold keeps every comparison integer (no
    division feeds the filter)."""
    p = plans("tpch_q17")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2
    # the threshold is 5 * qty * cnt < sum — a multiply, not a divide
    assert "divide" not in p.lower() or "/ 700.0" in p


def test_q18_semi_join_then_topk(plans):
    """tpch_q18 (r11): the IN-subquery plans as LeftSemi against the
    orderkey rollup, and the top-100 finishes as TakeOrderedAndProject —
    no global sort materializes."""
    p = plans("tpch_q18")
    assert "LeftSemi" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q19_disjunction_single_stage(plans):
    """tpch_q19 (r11): part broadcasts; the three-band disjunction
    evaluates as a residual on the broadcast join output inside one
    codegen stage; ONE exchange (the global split-sum agg)."""
    import re

    p = plans("tpch_q19")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_q21_rollups_share_orderkey_partitioning(plans):
    """tpch_q21 (r11): the decorrelated EXISTS/NOT-EXISTS pair is two
    rollups and a fact re-join that all partition on l_orderkey;
    supplier/nation broadcast; top-100 is TakeOrderedAndProject."""
    import re

    p = plans("tpch_q21")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    # flags rollup + per_order rollup + re-join: bounded exchange count
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 4, p


def test_matryoshka_recall_one_scan_one_exchange(plans):
    """sim_matryoshka_recall (r11): both cosines (full + prefix) score in
    ONE pass off the broadcast query batch; both row_number windows and
    the final agg share the single query_id exchange. The corpus scans
    once (plus the broadcast build's own scan)."""
    import re

    p = plans("sim_matryoshka_recall")
    assert "CartesianProduct" not in p
    assert p.count("Window") >= 2
    # exactly one data exchange (the query_id hash partitioning both
    # windows and the agg share); the only other exchange is the
    # broadcast build of the query batch
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert len(re.findall(r"\(\d+\) BroadcastExchange\b", p)) == 1, p


def test_filter_funnel_one_pass(plans):
    """pipeline_filter_funnel (r11): cumulative stage flags are map-side
    over ONE corpus scan; the only data exchange is the digest window
    (the dedup stage's key); the stage unpivot explodes a 1-row
    aggregate, never data."""
    import re

    p = plans("pipeline_filter_funnel")
    assert "CartesianProduct" not in p and "Join" not in p
    assert p.count("Scan parquet") <= 2  # the digest-window subtree
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 2, p  # digest window + 1-row agg


def test_ivfpq_no_cartesian_shortlist_broadcast(plans):
    """sim_ivfpq_search (r11): the IVF-PQ composition keeps every tier an
    equi-join pipeline — no cartesian; the rerank touches full vectors
    through a broadcast of the bounded shortlist, never a second
    unpruned corpus pass."""
    p = plans("sim_ivfpq_search")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "LeftSemi" in p  # the probed-lists candidate restriction


def test_q2_single_fact_scan_window_min(plans):
    """tpch_q2 (r12): the correlated per-part MIN evaluates as a window
    over the ONE (partkey, suppkey) rollup — the fact table scans once
    (the r11 two-reference CTE form built the grouped ps relation
    twice); both dim filters broadcast below the rollup; exactly two
    data exchanges (rollup + window partitioning) and a top-k sink."""
    import re

    p = plans("tpch_q2")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "Window" in p
    assert "TakeOrderedAndProject" in p
    # ONE lineitem scan: 5 scans total (lineitem, part, supplier,
    # nation, region), each listed once in the tree
    tree = p.split("\n\n")[0]
    assert tree.count("Scan parquet") == 5, p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 2, p


def test_q9_profit_terms_split_separately(plans):
    """tpch_q9 (r12): profit sums revenue and cost as SEPARATE
    non-negative split accumulators (negatives can't enter div/% — the
    cross-engine divergence the module note pins); the per-pair supply
    cost is a window MIN over the name-prefiltered fact, so lineitem
    scans ONCE (the r11 form built the grouped ps and re-joined it,
    scanning the fact twice)."""
    p = plans("tpch_q9")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "Window" in p
    tree = p.split("\n\n")[0]
    # lineitem, part, orders, supplier, nation — one scan each
    assert tree.count("Scan parquet") == 5, p


def test_q11_having_is_decimal_cross_multiply(plans):
    """tpch_q11 (r12): the fraction test is a DECIMAL(38,0) cross-
    multiplication against the broadcast 1-row national total — no
    double division decides membership. The NATION_2 membership is a
    LeftSemi below the rollup, and the twice-referenced per-partkey
    rollup dedupes to a ReusedExchange — the fact scans ONCE."""
    p = plans("tpch_q11")
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p
    tree = p.split("\n\n")[0]
    assert "ReusedExchange" in tree, p
    # lineitem, supplier, nation — one scan each
    assert tree.count("Scan parquet") == 3, p


def test_q16_not_in_is_anti_join(plans):
    """tpch_q16 (r11b): the NOT IN exclusion plans as a (null-aware)
    anti join against the 1-column supplier dim."""
    p = plans("tpch_q16")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q20_nested_in_is_semi_chain(plans):
    """tpch_q20 (r12): both INs plan as LeftSemi joins; the excess-
    availability test is integer cross-multiplied; ps and shipped97
    fuse into ONE conditional rollup, so the fact scans once (r11
    built two grouped-lineitem CTEs — two scans, two agg shuffles)."""
    p = plans("tpch_q20")
    assert p.count("LeftSemi") >= 2
    assert "CartesianProduct" not in p
    tree = p.split("\n\n")[0]
    # lineitem, part, supplier, nation — one scan each
    assert tree.count("Scan parquet") == 4, p


def test_funnel_steps_single_exchange_no_join(plans):
    """events_funnel_steps (r11): the 3-step chain is three stacked
    whole-partition window MINs over ONE user_id exchange — never a
    k-way interval self-join."""
    import re

    p = plans("events_funnel_steps")
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert p.count("Window") >= 3
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 2, p  # user_id + 1-row agg


def test_scene_changes_one_python_pass_one_exchange(plans):
    """multimodal_scene_changes (r11): ONE Arrow-batched Python tier
    (the codec-shaped signature map) — payloads never shuffle; the lag
    window and rollup share the doc_id exchange."""
    import re

    p = plans("multimodal_scene_changes")
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1
    assert "Join" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_ivfpq_sweep_shared_frames(plans):
    """sim_ivfpq_nprobe_sweep (r12): the whole 4-point recall curve
    hangs off ONE ADC frame — per-tier shortlists are windows
    (row_number PARTITION BY nprobe), not pipeline replays; no
    cartesian; the tier table and shortlist join-backs broadcast."""
    import re

    p = plans("sim_ivfpq_nprobe_sweep")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # one window pass per tier stage — kmeans init + ADC shortlist +
    # served rank = 3 — not one per nprobe value (a replayed pipeline
    # would carry ≥ 2 per tier × 4 tiers)
    assert len(re.findall(r"\(\d+\) Window\b", p)) <= 3, p
    # the shortlist frame is cached: its ADC subtree must not replay
    # into both consumers
    assert "InMemoryRelation" in p


def test_ivf_balance_one_scan_reused_rollup(plans):
    """sim_ivf_balance (r12): ONE narrow scan of the label column; the
    per-cell rollup exchange is REUSED by the Σb² branch (never a second
    scan); the totals cross-joins are 1-row broadcasts, no cartesian."""
    p = plans("sim_ivf_balance")
    tree = p.split("\n\n")[0]
    assert "CartesianProduct" not in p
    assert tree.count("Scan parquet") == 1, p
    assert "ReusedExchange" in tree, p


def test_multiprobe_tier_broadcast_assign_no_cartesian(plans, spark):
    """dedup_embedding_multiprobe: the centroid table broadcasts into
    the map-side assign pass (k×dim rows — a BroadcastNestedLoop with a
    bounded build side by construction), candidates DISTINCT before the
    exact verify, and no unbounded cartesian anywhere.

    r15 (opt round): the pair tier checkpoints the assignment before
    its self-join (both children read ONE materialization), so the
    consumer plan now shows the assign as an ExistingRDD scan and the
    centroid broadcast is pinned on the assign SUBPLAN instead. The
    consumer joins are pinned SHUFFLE_HASH: a checkpoint scan has no
    stats, and the planner's fallback was SortMergeJoin — full sorts of
    the multi-million-row candidate stream
    (plans/r15/dedup_embedding_multiprobe_{before,after}.txt, in git at
    87f8177).

    r16 (opt round 2): the two VERIFY joins are bytes-gated
    (`_gate_verify_side`) — the tier knows the corpus row count (it
    derives k from it), so the broadcast-vs-shuffle decision Catalyst
    cannot make over a stats-less checkpoint is reconstructed against
    the session's autoBroadcastJoinThreshold. At test SF the embedding
    side fits and BROADCASTS (the candidate pair stream — 1.86M rows at
    sf0.1, the r15 verdict's #1 residual — is no longer shuffled once
    per verify side); past the threshold the r15 shuffled-hash posture
    returns unchanged (asserted below on the gate directly). The cell
    self-join keeps its shuffle-hash pin: both ITS sides are the
    corpus-sized assignment at every scale."""
    p = plans("dedup_embedding_multiprobe")
    tree = p.split("\n\n")[0]
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p  # the pair DISTINCT
    assert "SortMergeJoin" not in tree, p
    # self-join: shuffled-hash; verify joins: bytes-gated broadcast (the
    # embedding side fits the threshold at test SF)
    assert tree.count("ShuffledHashJoin") >= 1, p
    assert tree.count("BroadcastHashJoin") >= 2, p
    # the checkpointed assign feeds both self-join children
    assert "Scan ExistingRDD" in tree, p

    # the bytes gate itself: an over-threshold (or unknown) corpus row
    # count must keep the r15 shuffled-hash posture — the broadcast is
    # strictly the under-threshold arm, never a forced hint
    from mutable_spark.operators import dedup as DD

    from mutable_spark.catalog import load_tables

    thr = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    assert thr > 0  # the session sets a finite threshold
    big_n = thr  # n rows at >520 B/row always exceeds thr bytes
    side = load_tables(spark, SF_DIR).embeddings.select("vec_id", "embedding")
    hinted = DD._gate_verify_side(side, spark, big_n)
    assert "broadcast" not in str(hinted._jdf.queryExecution().logical()).lower()
    hinted_none = DD._gate_verify_side(side, spark, None)
    assert (
        "broadcast"
        not in str(hinted_none._jdf.queryExecution().logical()).lower()
    )
    small = DD._gate_verify_side(side, spark, 100)
    assert "broadcast" in str(small._jdf.queryExecution().logical()).lower()

    # the centroid broadcast pin lives on the assign subplan itself now
    from mutable_spark.catalog import load_tables
    from mutable_spark.operators import dedup as D

    e = load_tables(spark, SF_DIR).embeddings
    ap = explain(D._multiprobe_assign(e, 2))
    assert "CartesianProduct" not in ap
    assert ap.split("\n\n")[0].count("BroadcastExchange") >= 1, ap


def test_matryoshka_search_broadcast_two_stage(plans):
    """sim_matryoshka_search (r13): the MRL two-stage serving shape —
    the 1-row query and the 200-id shortlist BROADCAST into their
    joins (the corpus side never shuffles for them), both stages
    finish as distributed top-k (TakeOrderedAndProject, no global
    Sort+Exchange), and nothing degenerates into an unbounded
    cartesian (the only nested-loop sides are the broadcast 1-row
    query)."""
    import re

    p = plans("sim_matryoshka_search")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # shortlist ids into the rerank
    assert "TakeOrderedAndProject" in p
    # no full-width Sort+Exchange: every ORDER BY ... LIMIT is a top-k
    assert not re.search(r"\(\d+\) Sort\b", p.split("\n\n")[0]), p


def test_preference_pairs_single_exchange_no_join(plans):
    """pipeline_preference_pairs (r13): one corpus scan scoring in
    codegen, ONE exchange on the group key shared by BOTH row_number
    windows AND the per-group aggregate (same key — no second shuffle),
    chosen/rejected picked by conditional MAX, no join anywhere."""
    import re

    p = plans("pipeline_preference_pairs")
    tree = p.split("\n\n")[0]
    assert "Join" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert p.count("Window") >= 2
    assert tree.count("Scan parquet") == 1, p


def test_binary_extract_single_listing_no_exchange(plans):
    """multimodal_binary_extract (r14): the binaryFile-fed decode path is
    ONE glob-pruned listing feeding a stateless map — exactly one binary
    file scan, the Arrow-batched decode stage (MapInPandas), and ZERO
    exchanges or joins anywhere (no per-file jobs, nothing shuffles)."""
    p = plans("multimodal_binary_extract")
    tree = p.split("\n\n")[0]
    assert tree.count("Scan binaryFile") == 1, p
    assert "MapInPandas" in tree
    assert "Exchange" not in p
    assert "Join" not in p and "CartesianProduct" not in p


def test_preference_topm_single_exchange_no_join(plans):
    """pipeline_preference_topm (r14): the m x m extension keeps the m=1
    op's exchange count — both rank windows and the struct-array rollup
    share ONE (source, lang) exchange, and the cross pairing is a double
    explode of the 1-row-per-group frame, never a self-join."""
    import re

    p = plans("pipeline_preference_topm")
    tree = p.split("\n\n")[0]
    assert "Join" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert p.count("Window") >= 2
    assert tree.count("Scan parquet") == 1, p
    assert "Generate" in p  # the explode stages


def test_duplicate_spans_two_exchanges_no_join(plans):
    """dedup_duplicate_spans (r14): positional grams stay linear — one
    corpus scan, a count window on the gram hash (exchange 1), the
    run-compression window on doc_id (exchange 2), and the final
    (doc_id, run) rollup REUSES the doc_id partitioning (no third
    exchange). No join anywhere — the duplicated mark is a window
    count, never a self-join, so nothing pair-expands at any corpus
    size."""
    import re

    p = plans("dedup_duplicate_spans")
    tree = p.split("\n\n")[0]
    assert "Join" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 2, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 2
    assert tree.count("Scan parquet") == 1, p


def test_bpe_encode_shuffle_hash_vocab_build(plans):
    """text_bpe_encode (r14): the doc-stream ⋈ vocab join must be a
    key-partitioned ShuffledHashJoin with the VOCAB side as build —
    never a broadcast of the exploded document word stream (Catalyst's
    default here, because the checkpointed vocab frame is statless and
    the parquet-derived fact side looks small at test SF — catastrophic
    at corpus scale). The vocab rollup and the join both reuse the
    training loop's window partitioning on w: exactly two exchanges
    (doc stream onto w + the final doc_id rollup)."""
    import re

    p = plans("text_bpe_encode")
    assert "BroadcastHashJoin" not in p, p
    assert "ShuffledHashJoin" in p and "BuildRight" in p
    assert "CartesianProduct" not in p
    # r15 opt: 3 exchanges with the driver-local trainer (the vocab
    # build side is a driver-built `LocalTableScan`, the final
    # symbolization `_bpe_rounds` hands to `session.local_frame` — so
    # its shuffle onto w no longer reuses the training loop's window
    # partitioning — that exchange carries only the gated vocabulary,
    # bounded by the fast path's own contract; the doc-stream exchange
    # and the doc_id rollup are unchanged)
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 3, p


def test_scrub_spans_no_broadcast_of_derived_sides(plans):
    """dedup_scrub_spans (r14): both derived frames — the span cut list
    on the anti join and (worse) the per-doc rebuilt-text rollup on the
    final left join — must join key-partitioned on doc_id, never
    broadcast: Catalyst's test-SF estimates mark both broadcastable,
    but both grow linearly with the corpus, and broadcasting the
    rebuilt corpus text is the exact anti-pattern the scrub exists to
    avoid. The span range rides the doc_id equi-join as a residual —
    no nested-loop, no cartesian."""
    import re

    p = plans("dedup_scrub_spans")
    assert "BroadcastHashJoin" not in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", p)
    assert joins and set(joins) == {"ShuffledHashJoin"}, joins


def test_bpe_budget_sample_all_joins_shuffle_hash(plans):
    """pipeline_bpe_budget_sample (r14): both attach joins — the
    doc-stream ⋈ vocab encode join AND the per-doc quality join — must
    be key-partitioned ShuffledHashJoins: Catalyst broadcasts each at
    test SF (statless vocab; narrow quality frame), but both sides grow
    with the corpus. No cartesian, no broadcast anywhere."""
    import re

    p = plans("pipeline_bpe_budget_sample")
    assert "BroadcastHashJoin" not in p, p
    assert "CartesianProduct" not in p
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", p)
    assert joins and set(joins) == {"ShuffledHashJoin"}, joins
    assert "Window" in p


def test_label_store_attach_join_shuffle_hash(spark):
    """r15 label write-back store: the stored labels are CORPUS-sized
    (one (vec_id, cell) row per vector) but read back as a tiny parquet
    at test SF — Catalyst marks them broadcastable, which at 100 TB
    ships the full label set to every executor. `_staged_with_labels`
    (the literal label-attach join every stored-label consumer runs,
    pre-checkpoint) must stay a vec_id-partitioned ShuffledHashJoin
    with the label-store scan on the build side, never a broadcast."""
    import re

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.dedup import (
        _staged_with_labels,
        stored_retrained_labels,
    )

    e = load_tables(spark, SF_DIR).embeddings
    lab, _, _ = stored_retrained_labels(e, SF_DIR)
    p = explain(_staged_with_labels(e, lab), "formatted")
    assert "mutable_spark_labels_" in p, p  # the store is actually read
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", p)
    assert joins == ["ShuffledHashJoin"], p


def test_canonical_scrub_no_broadcast_of_derived_sides(plans):
    """dedup_scrub_spans_canonical (r15): same contract as the
    all-occurrence scrub — the span cut list and the rebuilt-text
    rollup must join key-partitioned on doc_id, never broadcast; the
    keep-one mark rule adds one ordered per-class window, no join."""
    import re

    p = plans("dedup_scrub_spans_canonical")
    assert "BroadcastHashJoin" not in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", p)
    assert joins and set(joins) == {"ShuffledHashJoin"}, joins


def test_dsir_weight_table_broadcasts_fact_never(plans):
    """pipeline_dsir_select (r15): the bucket-weight table joins the
    token stream as an explicit broadcast — CORRECT here because the
    bucket domain is FIXED (≤ _DSIR_BUCKETS rows at any corpus size),
    unlike the corpus-growing label stores this suite pins to
    shuffle-hash. The corpus is scanned ONCE (the cached token stream
    feeds all four consumers), the per-doc rollup is the only
    corpus-sized exchange key, and the two scalar frames arrive as
    1-row broadcast cross joins, never a CartesianProduct."""
    import re

    p = plans("pipeline_dsir_select")
    tree = p.split("\n\n")[0]
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p
    # every consumer reads the ONE cached token stream: all Scan parquet
    # mentions in the tree are the same node (one physical corpus scan)
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) <= 1, tree


def test_pack_bpe_vocab_join_shuffle_hash_one_window_exchange(plans):
    """pipeline_pack_bpe (r15): the trained-vocabulary count join keeps
    the text_bpe_encode plan contract — ShuffledHashJoin with the vocab
    side as build (Catalyst would broadcast the exploded DOC WORD
    STREAM at test SF, the 100 TB killer the r14 pin caught) — and the
    layout itself adds exactly the whitespace op's shape: one shard-key
    exchange feeding the running-sum window. No cartesian anywhere."""
    p = plans("pipeline_pack_bpe")
    assert "ShuffledHashJoin" in p, p
    assert "CartesianProduct" not in p
    assert "Window" in p
