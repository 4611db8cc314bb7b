"""Physical-plan regression tests: scale hygiene pinned in CI.

A correctness-green query whose plan stops pushing filters, pruning
columns, or broadcasting dims would still pass the oracle gate — these
tests are what catches that before a 100 TB run would."""

from __future__ import annotations

import pytest

from tests.conftest import SF_UNIT
from tugas_2_big_data_spark import queries as q
from tugas_2_big_data_spark.plans import inspect as pi

REG = q.queries()


@pytest.fixture(scope="module")
def dfs(spark):
    return {name: fn(spark, SF_UNIT) for name, fn in REG.items()}


def test_q1_filter_pushed_to_scan(dfs):
    pushed = " ".join(pi.pushed_filters(dfs["tpch_q1"]))
    assert "l_shipdate" in pushed and "LessThanOrEqual" in pushed


def test_q1_column_pruning(dfs):
    cols = pi.read_schema_columns(dfs["tpch_q1"], "lineitem")
    # 7 of 11 lineitem columns needed; keys/partkeys must NOT be read
    assert "l_orderkey" not in cols
    assert "l_partkey" not in cols
    assert "l_quantity" in cols


def test_q3_dimension_broadcast(dfs):
    assert pi.uses_broadcast_join(dfs["tpch_q3"])
    assert not pi.uses_cartesian_or_bnl(dfs["tpch_q3"])


def test_q5_broadcasts_no_cartesian(dfs):
    assert pi.uses_broadcast_join(dfs["tpch_q5"])
    assert not pi.uses_cartesian_or_bnl(dfs["tpch_q5"])
    cols = pi.read_schema_columns(dfs["tpch_q5"], "lineitem")
    assert cols == {"l_discount", "l_extendedprice", "l_orderkey", "l_suppkey"}


def test_q6_all_predicates_pushed(dfs):
    pushed = " ".join(pi.pushed_filters(dfs["tpch_q6"]))
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed
    assert pi.read_schema_columns(dfs["tpch_q6"], "lineitem") == {
        "l_discount",
        "l_extendedprice",
        "l_quantity",
        "l_shipdate",
    }


def test_ann_topk_broadcasts_queries(dfs):
    # the small query side must broadcast: corpus stays partition-parallel
    assert pi.uses_broadcast_join(dfs["ann_cosine_topk"])
    assert not pi.uses_cartesian_or_bnl(dfs["ann_cosine_topk"])


def test_yf_agg_prunes_scan(dfs):
    cols = pi.read_schema_columns(dfs["yf_agg_month"], "lineitem")
    assert "l_orderkey" not in cols and "l_linenumber" not in cols


def test_topk_uses_window_group_limit(dfs):
    # Spark 3.5+/4.x prunes rank>k rows before the full window sort
    plan = pi.explain_formatted(dfs["win_topk_orders_per_customer"])
    assert "WindowGroupLimit" in plan


def test_q1_codegen_live(dfs):
    assert pi.wholestage_codegen_ids(dfs["tpch_q1"]) >= 1


def test_curate_single_group_shuffle(dfs):
    """top_fraction_by_group: ONE hash shuffle by the group key feeds
    both windows (rank + count share the partition — no second
    aggregate join). The dynamic ceil(f*n) quota rules out
    WindowGroupLimit (needs a constant bound) — documented trade."""
    plan = pi.explain_formatted(dfs["curate_top_by_source"])
    assert plan.count("hashpartitioning") <= 2  # tree node + detail line
    assert plan.count("Exchange") <= 2
    assert not pi.uses_cartesian_or_bnl(dfs["curate_top_by_source"])


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_signature",
        "dedup_simhash",
        "txt_token_stats",
        "txt_canonical_fingerprint",
        "mm_binary_meta",
        "mm_frame_sample",
        "mm_resize_dims",
        "txt_chunk_windows",
    ],
)
def test_map_only_operators_have_zero_shuffles(dfs, name):
    """The set-based signature/text operators are pure projections —
    any Exchange appearing here means a rewrite re-introduced an
    explode+groupBy and the map-only scale property is gone.

    One RoundRobin exchange is tolerated: that is the conditional
    fan_out repairing the local single-split scan (partitioning.py) —
    a no-op at cluster scale. Hash/range exchanges stay forbidden."""
    plan = pi.explain_formatted(dfs[name])
    # formatted explain names the partitioning in the Arguments detail
    # lines: RoundRobinPartitioning = fan_out, anything else = a real
    # data-movement shuffle that violates the map-only property
    assert "hashpartitioning" not in plan, name
    assert "rangepartitioning" not in plan, name
    assert "SinglePartition" not in plan, name
    assert plan.count("Exchange") <= 2, name  # tree node + detail entry


def test_asof_single_logical_shuffle(dfs):
    """As-of join = union-sort-carry: one hash partitioning by key (the
    window), never a range-condition nested loop / cartesian."""
    plan = pi.explain_formatted(dfs["evt_asof_last_purchase"])
    assert plan.count("Exchange") <= 2
    assert not pi.uses_cartesian_or_bnl(dfs["evt_asof_last_purchase"])


def test_lsh_pairs_all_joins_are_equi(dfs):
    """Every pairwise dedup step must go through key-equi-joins."""
    assert not pi.uses_cartesian_or_bnl(dfs["dedup_minhash_lsh_pairs"])
    assert not pi.uses_cartesian_or_bnl(dfs["dedup_ngram_jaccard_exact_baseline"])
    assert not pi.uses_cartesian_or_bnl(dfs["dedup_ngram_jaccard_prefix"])


def test_ivf_broadcasts_centroids(dfs):
    assert pi.uses_broadcast_join(dfs["ann_ivf_topk"])


def test_idx_flatten_prunes_unused(dfs):
    """The 32-column financial contract must not drag unused customer
    columns through the scan."""
    cols = pi.read_schema_columns(dfs["idx_flatten_ratios"], "customer")
    assert "c_mktsegment" not in cols or len(cols) < 5


def test_pipeline_enrichment_is_map_only(spark):
    """clean_corpus stages 3+4 inline the quality/lang/token exprs —
    joining them back by id would re-derive the survivor lineage once
    per branch (measured 19 s -> 7 s at sf0.1 when flattened)."""
    from tugas_2_big_data_spark.pipelines import corpus as cp

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    plan = pi.explain_formatted(cp.enrich_and_filter(docs))
    assert "Exchange" not in plan


def test_pipeline_no_cartesian(dfs):
    """The composed hygiene pipeline stays inside key-equi-joins."""
    assert not pi.uses_cartesian_or_bnl(dfs["pipeline_clean_corpus"])


def test_hash_split_is_map_only(dfs):
    """hash_split is the 100 TB split path — any Exchange here means
    someone reintroduced a per-stratum ordering."""
    assert "Exchange" not in pi.explain_formatted(dfs["split_hash"])


def test_tfidf_topk_window_pruned_and_broadcast(dfs):
    """The per-doc top-k must prune rank>k map-side; the one-row doc
    count must ride a broadcast, never a shuffle."""
    plan = pi.explain_formatted(dfs["txt_tfidf_topk"])
    assert "WindowGroupLimit" in plan
    assert pi.uses_broadcast_join(dfs["txt_tfidf_topk"])


# --- TPC-H join/subquery surface (queries_tpch.py) ---------------------------


def test_q7_broadcasts_filtered_dims_no_cartesian(dfs):
    assert pi.uses_broadcast_join(dfs["tpch_q7_volume_shipping"])
    assert not pi.uses_cartesian_or_bnl(dfs["tpch_q7_volume_shipping"])


def test_q9_broadcasts_dims_no_cartesian(dfs):
    assert pi.uses_broadcast_join(dfs["tpch_q9_profit"])
    assert not pi.uses_cartesian_or_bnl(dfs["tpch_q9_profit"])
    # LIKE-filtered part dim must be pruned to the two needed columns
    cols = pi.read_schema_columns(dfs["tpch_q9_profit"], "part")
    assert cols == {"p_partkey", "p_retailprice", "p_name"}


def test_q17_brand_filter_pushed_to_part_scan(dfs):
    pushed = " ".join(pi.pushed_filters(dfs["tpch_q17_small_qty"]))
    assert "p_brand" in pushed


def test_q18_semi_join_plan_is_broadcast(dfs):
    assert pi.uses_broadcast_join(dfs["tpch_q18_large_orders"])
    assert not pi.uses_cartesian_or_bnl(dfs["tpch_q18_large_orders"])


def test_q22_scalar_subquery_no_cartesian_blowup(dfs):
    # the one-row avg broadcast cross join must stay a broadcast
    # nested loop over ONE build row, and the anti join a broadcast
    assert pi.uses_broadcast_join(dfs["tpch_q22_wealthy_inactive"])


def test_json_props_reads_two_columns_only(dfs):
    """JSON extraction must stay a scan-side projection: only the
    grouping key and the props JSON string leave the parquet reader."""
    assert pi.read_schema_columns(dfs["evt_json_props"], "events") == {
        "event_type",
        "props",
    }
    assert not pi.uses_cartesian_or_bnl(dfs["evt_json_props"])


def test_gapfill_spine_is_generated_not_cartesian(dfs):
    """Gap fill reads only (ts, key, value) from the fact and builds its
    dense spine from a one-row bounds agg + sequence explode — the tiny
    keys×buckets cross join must plan as a broadcast, never a
    CartesianProduct/BNL over fact-sized inputs."""
    df = dfs["evt_gapfill_5min"]
    assert pi.read_schema_columns(df, "events") == {"ts", "event_type", "value"}
    assert not pi.uses_cartesian_or_bnl(df)
    assert pi.uses_broadcast_join(df)


def _n_exchanges(plan: str) -> int:
    """Count physical Exchange NODES in a formatted plan (each node
    appears twice in the text: once in the tree, once in the detail
    listing — count the detail headers only)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_weighted_keep_is_map_only(dfs):
    """Deterministic Bernoulli thinning is a filter — an Exchange here
    means the integer-hash keep rule grew a shuffle."""
    assert "Exchange" not in pi.explain_formatted(dfs["sample_weighted_by_length"])


def test_mixture_rebalance_single_stratum_shuffle(dfs):
    """Mixture rebalancing pays exactly one hash partitioning by the
    strata columns (the per-stratum ranked running sum)."""
    plan = pi.explain_formatted(dfs["mix_language_budget"])
    assert _n_exchanges(plan) == 1


def test_contamination_benchmark_rides_a_broadcast(dfs):
    """The benchmark shingle vocabulary must reach the training side as
    a one-row broadcast — a shuffle join here would shuffle the 100 TB
    training corpus against a kilobyte-scale benchmark."""
    df = dfs["txt_contamination"]
    plan = pi.explain_formatted(df)
    assert "BroadcastExchange" in plan


def test_grouping_sets_one_expand_one_shuffle(dfs):
    """groupingSets must plan Expand -> single HashAggregate pair: one
    fact scan and one shuffle for all three grains (the UNION ALL
    formulation would scan three times)."""
    plan = pi.explain_formatted(dfs["grouping_sets_pricing"])
    assert "Expand" in plan
    assert _n_exchanges(plan) == 1


def test_q11_threshold_is_broadcast_not_collect(dfs):
    """The global-total threshold joins back as a one-row broadcast."""
    assert pi.uses_broadcast_join(dfs["tpch_q11_important_parts"])


def test_salted_agg_two_phase_shuffles(dfs):
    """Salted aggregation = partial on (key, salt) + merge on key: two
    hash exchanges, no more (a third would mean the salt leaked into
    the output grouping)."""
    plan = pi.explain_formatted(dfs["skew_salted_user_totals"])
    assert _n_exchanges(plan) == 2


def test_exact_n_sample_uses_window_group_limit(dfs):
    """sample_exact_n_per_group's LITERAL keep-count activates
    WindowGroupLimit (map-side rank pruning) — the contrast to
    top_fraction_by_group's dynamic quota, which cannot."""
    plan = pi.explain_formatted(dfs["sample_exact_n_per_lang"])
    assert "WindowGroupLimit" in plan


def test_zscore_fact_never_shuffles(dfs):
    """evt_value_zscore: the 5-row stats relation broadcasts back onto
    the event scan — the fact side must join without an Exchange above
    its scan (only the stats aggregate may shuffle)."""
    assert pi.uses_broadcast_join(dfs["evt_value_zscore"])
    assert not pi.uses_cartesian_or_bnl(dfs["evt_value_zscore"])


def test_funnel_all_equi_joins(dfs):
    assert not pi.uses_cartesian_or_bnl(dfs["evt_funnel_conversion"])


def test_unigram_vocab_broadcast(dfs):
    """txt_unigram_logprob: the Zipf-bounded vocabulary must broadcast
    onto the word stream, never shuffle the words for the join."""
    assert pi.uses_broadcast_join(dfs["txt_unigram_logprob"])
    assert not pi.uses_cartesian_or_bnl(dfs["txt_unigram_logprob"])


def test_dedup_verify_joins_never_broadcast_sets(dfs):
    """The dedup verify joins carry MERGE hints: the shingle-set
    relations' array payload defeats AQE's size estimate (a broadcast
    of the 600k-row array relation died driver-side at the 100x probe
    tier), and the SHUFFLE_HASH pin that replaced it walled at the
    1000x tier — a hash join's BUILD side cannot spill
    (SCALEPROBE1000). The plan must show SortMergeJoin for the verify
    lookups and no broadcast of a set relation."""
    for name in ("dedup_containment_prefix", "dedup_ngram_jaccard_prefix"):
        plan = pi.explain_formatted(dfs[name])
        # BOTH verify sides must hold the hint: a single SortMergeJoin
        # would keep this green while the other side regressed to the
        # AQE broadcast the hint exists to prevent
        assert plan.count("SortMergeJoin") >= 2, name
        # broadcasting EXPLODED scalar shingle keys is fine (that join
        # carries no array); what must never broadcast is a relation
        # holding a shingle-SET array column (sh_a/sh_b/shingles)
        for block in plan.split("\n\n"):
            if block.splitlines() and "BroadcastExchange" in block.splitlines()[0]:
                assert not any(
                    payload in block
                    for payload in ("sh_a#", "sh_b#", "shingles#")
                ), f"{name}: set relation broadcast\n{block}"


def test_repeated_spans_bucketed_never_all_pairs(dfs, spark):
    """Span dedup must stay bucketed: gram-hash/gram-text equi-joins
    only (no cartesian/BNL anywhere), and the token-array verify
    rejoin pins MERGE — an array-payload relation AQE must not
    broadcast (the measured 100x-probe OOM mode) and a hash build
    cannot spill (the measured 1000x wall). The pin inspects a
    materialize=False construction: the registered form
    localCheckpoints ctext, and the logical plan truncates at the
    checkpoint, which hides everything upstream of the verify stage
    from explain — same checkpoint-invisibility note as the
    prebuilt-IVF plan test."""
    for name in ("dedup_repeated_spans", "dedup_repeated_spans_excise"):
        assert not pi.uses_cartesian_or_bnl(dfs[name]), name
    from tugas_2_big_data_spark.operators import dedup
    from tugas_2_big_data_spark.queries_training import corpus

    lazy = dedup.repeated_spans(
        corpus(spark, SF_UNIT), k=8, materialize=False
    )
    plan = pi.explain_formatted(lazy)
    assert not pi.uses_cartesian_or_bnl(lazy)
    assert "SortMergeJoin" in plan


def test_repeated_spans_hot_split_has_broadcast_legs(dfs):
    """The hot/cold skew split's signature: the span plan carries
    BroadcastHashJoin LeftSemi legs (the top-hot_grams keys routed
    map-only — the @boiler 26.6x -> 8.6x fix) ALONGSIDE the shuffle
    legs, i.e. both leg families are present, and the hot-key TopK is
    a TakeOrderedAndProject, never a global Sort."""
    plan = pi.explain_formatted(dfs["dedup_repeated_spans"])
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    # the split must not have replaced the cold shuffle path entirely
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_ivf_prebuilt_serving_plan_reads_artifact(dfs):
    """The artifact-served IVF plan must source its quantizer from the
    persisted parquet index (the artifact path appears as a scan
    relation) and stay equi-join-only. Zero-training is proven
    separately by the poisoned-trainer unit test
    (test_ivf_build_index_serves_identical_results): in-query training
    runs EAGERLY via localCheckpoint, so it is invisible to explain —
    plan-shape counts cannot distinguish the two."""
    for name in ("ann_ivf_topk_prebuilt", "ann_ivfpq_topk_prebuilt"):
        plan = pi.explain_formatted(dfs[name])
        assert "tugas2_ann_index" in plan, name
        assert not pi.uses_cartesian_or_bnl(dfs[name]), name


def test_pipeline_span_clean_no_cartesian(dfs):
    """The composed exact-dedup ∘ span-excision pipeline stays inside
    key-equi-joins end-to-end."""
    assert not pi.uses_cartesian_or_bnl(dfs["pipeline_span_clean"])


def test_embedding_state_join_never_broadcasts_vectors(dfs):
    """The incremental embedding gate's bucket join pins SHUFFLE_HASH
    on the STATE side: the state carries the full seen vectors (array
    payload — the measured AQE broadcast hazard), and it is the
    corpus-sized relation, the one side that must never broadcast.
    Vector rows are sub-KB fixed-width, unlike the shingle-set
    relations whose unspillable hash build walled at the 1000x tier
    and moved to MERGE — here the hash build stays bounded and the
    measured merge variant cost ~60% more at 100x (sorting the state
    forfeits bucketed co-location)."""
    for name in ("ann_incremental_near_dup", "ann_incremental_two_batches"):
        plan = pi.explain_formatted(dfs[name])
        assert "ShuffledHashJoin" in plan, name
        for block in plan.split("\n\n"):
            if block.splitlines() and "BroadcastExchange" in block.splitlines()[0]:
                assert "seen_vec#" not in block, (
                    f"{name}: state vectors broadcast\n{block}"
                )


def test_filtered_ivf_pushes_predicate_into_invfile_scan(dfs):
    """Metadata-filtered IVF serving: the attribute predicate must
    reach the inverted-file parquet scan as a pushed filter (the
    attributes live IN the index — no side lookup, no post-ranking
    filter), and the plan stays equi-join-only."""
    for name in (
        "ann_ivf_filtered_topk",
        "ann_ivfsq_filtered_topk",
        "ann_ivfpq_filtered_topk",
    ):
        plan = pi.explain_formatted(dfs[name])
        assert not pi.uses_cartesian_or_bnl(dfs[name]), name
        pushed = [
            line
            for line in plan.splitlines()
            if "PushedFilters" in line and "label" in line
        ]
        assert pushed, f"{name}: label filter not pushed to any scan:\n{plan}"


def test_sq_prebuilt_serving_reads_artifact_only(dfs):
    """SQ8 / IVF-SQ artifact serving must scan the persisted index
    (bounds + codes under the artifact dir) and never the raw
    embeddings parquet — the whole point of the compressed index is
    that serving IO is the 4×-smaller codes table."""
    for name in ("ann_sq_topk_prebuilt", "ann_ivfsq_topk_prebuilt"):
        plan = pi.explain_formatted(dfs[name])
        assert "tugas2_ann_index" in plan, name
        assert not pi.uses_cartesian_or_bnl(dfs[name]), name
        # Every raw embeddings scan must carry the query-batch pushed
        # filter (vec_id < 5) — i.e. be the 5-row query read, never a
        # full-corpus read. Spark legitimately DUPLICATES that filtered
        # read as a dynamic-partition-pruning subquery for the codes
        # scan (the cid IN dynamicpruning#N filter IS the cell pruning
        # we built the partitioned artifact for), so we pin the filter
        # on each scan block rather than counting scan lines.
        for block in plan.split("\n\n"):
            if (
                "Scan parquet" in block
                and "embeddings.parquet" in block
                and "tugas2_ann_index" not in block
            ):
                assert "LessThan(vec_id,5)" in block, (
                    f"{name}: unfiltered raw corpus scan\n{block}"
                )


def test_bloom_word_table_rides_a_broadcast(dfs):
    """The bloom probe must be a broadcast hash join of the n_blocks-row
    word table against the batch — if the word table ever shuffles the
    batch, the prefilter costs what it was built to avoid."""
    plan = pi.explain_formatted(dfs["dedup_incremental_bloom"])
    assert "BroadcastHashJoin" in plan
    assert not pi.uses_cartesian_or_bnl(dfs["dedup_incremental_bloom"])


def test_profile_single_pass_multi_distinct(dfs, spark):
    """The wide profile aggregate (what executes under the query's
    checkpoint) must plan as ONE Expand over ONE scan — a single
    corpus pass widened per distinct column. The checkpoint is
    LOAD-BEARING: Catalyst prunes columns THROUGH the union, so the
    un-materialized long form re-plans the aggregate per branch (6
    independent scans measured on the events profile)."""
    from tugas_2_big_data_spark.operators import profiling
    from tugas_2_big_data_spark.sources.catalog import load_table

    ev = load_table(spark, "events", SF_UNIT)
    plan = pi.explain_formatted(profiling.profile_wide_agg(ev, ev.columns))
    assert "Expand" in plan
    # tree node + its detail block — a second SCAN would add two more
    assert plan.count("Scan parquet") <= 2
    assert not pi.uses_cartesian_or_bnl(dfs["profile_events"])


def test_bloom_prefilter_join_plan_shape(dfs):
    """The word-table probe must be a BROADCAST join (map-side thin of
    the fact before any exchange) and the whole query equi-join-only."""
    plan = pi.explain_formatted(dfs["join_bloom_prefilter"])
    assert "BroadcastHashJoin" in plan
    assert not pi.uses_cartesian_or_bnl(dfs["join_bloom_prefilter"])


def test_bm25_topk_never_global_sort(dfs):
    """BM25's top-k must be a TakeOrderedAndProject, never a full sort
    of the scored corpus."""
    plan = pi.explain_formatted(dfs["txt_bm25_topk"])
    assert "TakeOrderedAndProject" in plan
    assert not pi.uses_cartesian_or_bnl(dfs["txt_bm25_topk"])


def test_emb_covariance_no_self_join(dfs):
    """The covariance plan must be the in-row explode shape: a
    Generate over the embeddings scan and NO join carrying the corpus
    on both sides (the naive self-join on vec_id would shuffle the
    corpus and blow up d x per row)."""
    plan = pi.explain_formatted(dfs["emb_covariance"])
    assert "Generate" in plan
    assert "SortMergeJoin" not in plan
    assert not pi.uses_cartesian_or_bnl(dfs["emb_covariance"])


def test_quality_gate_is_map_only(dfs):
    """The composite Gopher gate must stay ONE map-only pass — an
    Exchange here means a signal was joined back by id instead of
    riding the scan (the with_counts contract)."""
    assert "Exchange" not in pi.explain_formatted(dfs["txt_quality_gate"])


def test_gopher_ngrams_map_only(dfs):
    assert "Exchange" not in pi.explain_formatted(dfs["txt_gopher_ngrams"])


def test_key_skew_top_k_is_take_ordered(dfs):
    """profile_key_skew's top-k must plan as TakeOrdered, never a
    global single-partition row_number window over the per-key
    relation."""
    plan = pi.explain_formatted(dfs["profile_key_skew"])
    assert "TakeOrdered" in plan


def test_scd2_single_join(dfs):
    """SCD2's joined relation must be checkpointed before the two
    unioned projections — Spark does not share subplans across a
    union, so the lazy form executes the full-outer join once PER
    BRANCH (caught live by this pin: 4 join nodes). Checkpointed, the
    served plan contains no join at all."""
    plan = pi.explain_formatted(dfs["dim_scd2_customers"])
    assert (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
        == 0
    )


def test_bpe_encode_map_only_past_training(dfs):
    """Encoding must ride the corpus scan: zero Exchanges and no
    corpus-shuffling join in the served plan — each merge round is a
    ONE-ROW broadcast (the BroadcastNestedLoop the one-row-frame
    pattern plans as; never a SortMergeJoin, which would mean the
    merge table grew a corpus-sized key)."""
    import re

    plan = pi.explain_formatted(dfs["txt_bpe_encode"])
    # zero SHUFFLE exchanges; the BroadcastExchange nodes are the
    # one-row merge frames and are expected
    assert not re.findall(r"\(\d+\) Exchange", plan)
    assert "SortMergeJoin" not in plan


def test_component_representatives_single_window(dfs):
    """The family pick is one ranks-to-components join + ONE window
    over family-bounded partitions (both inputs are checkpointed
    node-sized relations — co-shuffled join is the correct 100 TB
    shape, a broadcast would not survive node-scale); never a
    cartesian."""
    import re

    plan = pi.explain_formatted(dfs["graph_component_representatives"])
    assert not pi.uses_cartesian_or_bnl(
        dfs["graph_component_representatives"]
    )
    assert plan.count("Window") >= 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_split_grouped_leakage_no_cartesian(dfs):
    assert not pi.uses_cartesian_or_bnl(dfs["split_grouped_leakage"])


def test_bm25_from_postings_pushes_terms_into_artifact_scan(dfs):
    """Artifact-served BM25: the query-term filter must reach the
    postings parquet scan as a pushed In-filter (only the query
    terms' posting rows are read — the bucketed-by-word pruning
    story at small scale), and the doc-length join must broadcast
    the tiny posting side, never shuffle the doclens table."""
    plan = pi.explain_formatted(dfs["txt_bm25_from_postings"])
    pushed = [
        line
        for line in plan.splitlines()
        if "PushedFilters" in line and "word" in line and "In(" in line
    ]
    assert pushed, f"term filter not pushed into postings scan:\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_summarize_partitioned_index_no_single_partition(dfs):
    """VERDICT r9 #3: the scale-path summarization index partitions the
    row_number window by `source`, so NOTHING in the plan funnels the
    corpus through one partition — vs the reference-parity global
    index, whose window requires an Exchange SinglePartition."""
    plan = pi.explain_formatted(dfs["iqplus_summarize_partitioned"])
    assert "SinglePartition" not in plan
    assert "Window" in plan
    # the parity twin keeps the global counter (and its single
    # partition) by design — pin the contrast so a refactor can't
    # silently swap the two
    global_plan = pi.explain_formatted(dfs["iqplus_summarize_stub"])
    assert "SinglePartition" in global_plan
