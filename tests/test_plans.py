"""Physical-plan shape assertions: pushdown, broadcast, no cartesian —
the properties that keep these plans viable at 100 TB."""

from __future__ import annotations

from snackfs_spark.plans import (
    assert_broadcast,
    assert_no_cartesian,
    assert_pushed_filter,
    formatted_plan,
)
from snackfs_spark.registry import load_all
from tests.conftest import SF_ORACLE

REG = load_all()


def test_q6_filters_push_to_scan(spark):
    df = REG["q6_revenue_forecast"].fn(spark, SF_ORACLE)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "l_discount")


def test_q6_prunes_columns(spark):
    df = REG["q6_revenue_forecast"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas, plan
    for line in read_schemas:
        for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
            assert col not in line, f"unpruned column {col}: {line}"


def test_q3_broadcasts_customer(spark):
    df = REG["q3_shipping_priority"].fn(spark, SF_ORACLE)
    assert_broadcast(df)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_q5_broadcasts_all_dims_no_shuffle_join(spark):
    df = REG["q5_regional_revenue"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_blockloc_broadcasts_ring(spark):
    df = REG["fs_block_locations"].fn(spark, SF_ORACLE)
    assert_broadcast(df)


def test_stat_point_lookup_pushes_path_filter(spark):
    df = REG["fs_stat"].fn(spark, SF_ORACLE)
    # The derived files view is cached; the predicate must still prune
    # (InMemoryTableScan keeps partition-level filters) — assert the
    # filter at least survives into the plan rather than being lost.
    plan = formatted_plan(df)
    from snackfs_spark.operators.fsops import STAT_PATH

    assert STAT_PATH in plan


def test_topk_uses_take_ordered(spark):
    df = REG["topk_orders"].fn(spark, SF_ORACLE)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_lsh_join_no_cartesian(spark):
    df = REG["dedup_minhash_lsh"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)


def test_ann_bruteforce_broadcasts_queries(spark):
    df = REG["ann_bruteforce_topk"].fn(spark, SF_ORACLE)
    assert_broadcast(df)


def test_minhash_band_join_reuses_exchange(spark):
    """The band self-join must read the heavy signature aggregate from a
    reused exchange, not compute it once per join side. AQE finalizes
    stage reuse only at runtime, so execute first, then inspect."""
    df = REG["dedup_minhash_lsh"].fn(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan


def test_vocab_topk_no_global_sort(spark):
    df = REG["text_vocab_topk"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_salted_join_spreads_key(spark):
    """The salted join must join on (custkey, salt), not custkey alone."""
    df = REG["rel_salted_skew_join"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "salt" in plan, plan
    assert_no_cartesian(df)


def test_split_assign_no_shuffle(spark):
    """Hash-mod split assignment is a pure projection: zero exchanges."""
    df = REG["split_assign_hash"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan


def test_topk_windows_use_group_limit(spark):
    """rank<=k windows must plan a partial WindowGroupLimit before the
    final per-key window: each partition keeps only its local top-k, so
    the window shuffle moves O(k * partitions) rows, not the full scored
    set — the property that keeps a 5-query ANN scan viable against a
    100 TB corpus."""
    for name in ("ann_bruteforce_topk", "win_topk_orders_per_customer"):
        plan = formatted_plan(REG[name].fn(spark, SF_ORACLE))
        assert "WindowGroupLimit" in plan, (name, plan)


def test_jaccard_verifier_has_no_forced_broadcast(spark):
    """NO join in the Jaccard verifier may hint broadcast: the shingle-set
    sides are corpus-proportional at scale (VERDICT r1), and the
    candidate-doc-id set is corpus-proportional too on near-dup-heavy
    crawls (VERDICT r2 dropped the last forced hint). AQE may still
    CHOOSE broadcast at runtime when a side is small — that's fine;
    forcing it is not."""
    df = REG["dedup_ngram_jaccard"].fn(spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = [l for l in analyzed.splitlines() if "ResolvedHint" in l]
    broadcast_hints = [l for l in hints if "broadcast" in l.lower()]
    assert len(broadcast_hints) == 0, analyzed


def test_bucketed_join_eliminates_shuffle(spark):
    """Fact-fact join over tables bucketed by the join key must run with
    ZERO shuffle exchanges on the join itself (only the final small
    group-agg exchanges). Broadcast is disabled to simulate two sides too
    big to broadcast — the 100 TB case bucketing exists for."""
    from snackfs_spark.sources import bucketed

    bucketed.build_bucketed_facts(spark, SF_ORACLE)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed.colocated_join(spark, SF_ORACLE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    # the join consumes bucketed scans directly: every exchange in the
    # plan is the post-join aggregate on o_orderpriority — none on the
    # join keys (the AQE plan string repeats the tree, so count kinds,
    # not lines)
    exchanges = {
        l.strip() for l in plan.splitlines()
        if "Exchange" in l and "ReusedExchange" not in l
    }
    assert exchanges and all("o_orderpriority" in l for l in exchanges), plan


def test_cluster_canonical_no_forced_broadcast(spark):
    df = REG["dedup_cluster_canonical"].fn(spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed.splitlines()[0], analyzed
    final_join_hints = [
        l for l in analyzed.splitlines()[:10] if "broadcast" in l.lower()
    ]
    assert not final_join_hints, analyzed


def test_common_ngrams_no_global_sort(spark):
    """The corpus-common-shingle top-k cuts with per-partition heaps
    (TakeOrderedAndProject), never a global sort of the shingle
    frequency table."""
    df = REG["text_common_ngrams"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan  # map-side doc-frequency combine


def test_boilerplate_probe_has_no_forced_broadcast(spark):
    """The common-shingle membership probe joins WITHOUT a broadcast
    hint: the common set is corpus-proportional on template-heavy crawls
    (same argument as the Jaccard verifier). AQE may still choose
    broadcast at runtime when it is actually small."""
    df = REG["text_boilerplate"].fn(spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = [l for l in analyzed.splitlines() if "ResolvedHint" in l]
    assert not [l for l in hints if "broadcast" in l.lower()], analyzed


def test_kmeans_broadcasts_centroids_and_partial_topk(spark):
    """The assignment pass must broadcast the ONE-row centroid-array
    relation against a single corpus scan and take the per-vector
    nearest centroid as a map-side array-min expression: no window, no
    exchange, no sort anywhere in the returned plan (the recenter
    aggregates live behind the shared kmeans_cents checkpoint)."""
    from snackfs_spark.memo import clear_all_memos

    clear_all_memos()  # pin the LIVE assignment plan, not a stale memo
    df = REG["emb_kmeans_assign"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan, plan
    assert "array_min" in plan, plan
    # the corpus relation is never exchanged, windowed or sorted: the
    # whole assignment is one codegen map over the scan
    assert "Window" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mmr_single_pipeline_no_round_jobs(spark):
    """MMR (r11 opt): the pool folds to ONE array row straight off the
    TakeOrderedAndProject cut and the whole greedy selection is a
    higher-order-function loop — one job, no per-round checkpoints, no
    window, no corpus-keyed exchange. The plan must be the live
    single-pipeline shape (a checkpoint-opaque ExistingRDD scan would
    mean the round chain came back)."""
    df = REG["retrieval_mmr_topk"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Generate" in plan, plan  # the final posexplode of picks
    assert "ExistingRDD" not in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_semdedup_pair_join_not_force_broadcast(spark):
    """The within-cluster pair self-join must NOT hint broadcast (both
    sides are corpus-sized); only the ids-only drop set is hinted."""
    df = REG["dedup_semantic"].fn(spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = [l for l in analyzed.splitlines() if "ResolvedHint" in l]
    broadcast_hints = [l for l in hints if "broadcast" in l.lower()]
    assert len(broadcast_hints) <= 1, analyzed


def test_tfidf_topk_uses_group_limit(spark):
    df = REG["text_tfidf_topk"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """Spark's runtime bloom-filter injection (the 100 TB semi-join
    pushdown knob): when a selective dim-side filter feeds a SHUFFLE
    join — both sides too big to broadcast, the cluster-scale case — the
    optimizer builds a bloom filter from the filtered side and probes it
    on the fact side BEFORE the shuffle, cutting shuffle volume by the
    filter's selectivity. Local thresholds are tuned down because the
    bench fixture is far below the 10 GB default application-side scan
    size; on a real cluster the defaults engage by themselves."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, plan


def test_cooccurrence_topk_distributed_topk_and_broadcast_vocab(spark):
    """Both top-k cuts must compile to TakeOrderedAndProject (partial
    per-partition top-k), never a single-partition global window; the
    vocabulary join must be broadcast."""
    df = REG["text_cooccurrence_topk"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_curriculum_budget_no_corpus_wide_global_window(spark):
    """The per-document running sum must be windowed WITHIN score groups
    (partition spec on score), with the only unpartitioned window over
    the tiny per-score relation — i.e. exactly one global window, fed by
    an aggregate, plus one partitioned window."""
    df = REG["curriculum_token_budget"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # the per-doc window carries a partition spec on score
    assert "partitionspecification=[score" in plan.replace(" ", "").lower() or (
        "Window" in plan and "score" in plan
    ), plan
    # survivors (score offsets x budget) reach the docs via broadcast
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gap_fill_single_fact_scan(spark):
    """bounds/types/probe all read the checkpointed rollup: raw events
    must not be scanned once per consumer."""
    df = REG["events_gap_fill"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert plan.count("Scan parquet") == 0, plan


def test_inverted_index_partial_aggregation(spark):
    """Postings aggregation must have a map-side partial phase (two
    HashAggregate levels around one exchange per grouping)."""
    df = REG["text_inverted_index"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_contamination_check_bloom_prefilters_train_side(spark):
    """split_contamination_check bit-tests the corpus-proportional train
    side against the bounded eval-shingle bloom bitmap BEFORE the
    distinct/join shuffles (r4 VERDICT #3): the bitmap lookups are
    broadcast joins and the bit_or bitmap build appears in the plan."""
    df = REG["split_contamination_check"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # the probe-side bit tests are inline expressions; the bitmap BUILD
    # is behind a localCheckpoint cut (so it executes once, not once per
    # lookup join — code-review r5) and thus surfaces as an ExistingRDD
    # scan rather than a bit_or aggregate subtree
    assert "shiftleft" in plan, plan
    assert "ExistingRDD" in plan, plan
    # two word-lookup broadcast joins (one per hash function)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert_no_cartesian(df)
    # the build itself (explode -> word-grouped bit_or) stays pinned on
    # the bitmap dataframe, pre-checkpoint
    from snackfs_spark.operators.dedup import shingles_df
    from snackfs_spark.operators.sampling import bloom_bitmap

    bplan = formatted_plan(bloom_bitmap(shingles_df(spark, SF_ORACLE, distinct=True), "shingle"))
    assert "bit_or" in bplan, bplan


def test_q9_profit_all_dims_broadcast(spark):
    """q9's three dims (supplier x nation, filtered part list) broadcast:
    the only fact shuffle is the final (nation, year) aggregate."""
    df = REG["q9_product_profit"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert_no_cartesian(df)


def test_q16_exclusion_is_broadcast_anti_join(spark):
    """q16's NOT-IN supplier exclusion plans as a broadcast anti join,
    never a shuffled set difference."""
    df = REG["q16_part_supplier_variety"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert_no_cartesian(df)


def test_q21_no_line_granularity_self_join(spark):
    """q21 joins the fact against ORDER-level aggregates (broadcast under
    AQE at this scale) — a line-x-line sort-merge self-join would be the
    O(lines^2-per-order) anti-pattern."""
    df = REG["q21_straggler_suppliers"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert_no_cartesian(df)


def test_doc_chunk_sliding_zero_shuffle(spark):
    """Passage chunking is a narrow map: no Exchange anywhere except the
    fan_out repartition of the single-file scan (which disappears on
    multi-file input)."""
    df = REG["doc_chunk_sliding"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # fan_out's round-robin is the only permitted exchange
    # count tree nodes ("Exchange (N)"), not the per-node detail headers
    n_exchanges = plan.count("Exchange (") - plan.count("ReusedExchange (")
    assert n_exchanges <= 1, plan
    assert "Generate" in plan, plan  # the explode


def test_fsck_full_outer_on_path_no_cartesian(spark):
    """fsck is ONE path-keyed full-outer join of two aggregated single
    passes — the chunk aggregate must collapse before the join (the
    shuffle carries #files rows, not #chunks) and nothing degenerates to
    a nested-loop/cartesian."""
    df = REG["fs_fsck"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "FullOuter" in plan, plan
    assert "HashAggregate" in plan, plan


def test_span_dedup_no_global_window_no_cartesian(spark):
    """The islands merge must be windowed per document (partition spec on
    doc_id) — a global window over the corpus-wide positions table is the
    at-scale failure mode — and candidate generation is equi-join work."""
    df = REG["dedup_span_ngrams"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    # every window spec in the plan partitions by doc_id first
    import re

    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs, plan
    for first_col in specs:
        assert first_col == "doc_id", (first_col, plan)


def test_entity_resolution_blocked_equi_join_no_cartesian(spark):
    """Candidate generation must be an equi-join on the blocking key —
    an un-blocked name comparison degenerates to a nested loop over all
    registration pairs."""
    df = REG["dedup_entity_resolution"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "blk" in plan, plan


def test_pareto_front_broadcasts_skyline_cells(spark):
    """The skyline map-back must be a broadcast join (the cell relation
    is <= 1001 rows) and the fact side must never sort globally."""
    df = REG["corpus_pareto_front"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_frequent_pairs_no_forced_broadcast_of_catalog(spark):
    """The frequent-item relation is catalog-proportional: the prune and
    support joins must be shuffle-hash, never a planner-forced broadcast
    that OOMs at 100x (the r4 sweep lesson), and the basket self-join
    must not degenerate to a cartesian."""
    df = REG["basket_frequent_pairs"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    assert "ShuffledHashJoin" in plan, plan


def test_markov_single_user_shuffle_then_partial_agg(spark):
    """One user-keyed exchange feeds the LEAD window; the transition
    count must collapse map-side (partial_count before the final
    exchange) because the key space is |types|^2."""
    df = REG["events_markov_transitions"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "partial_count" in plan, plan


def test_cluster_agreement_no_vector_pair_join(spark):
    """Purity/Rand must come from the contingency margins: no cartesian
    anywhere except the k-means broadcast-centroid assignment, and the
    margin joins are 1-row broadcasts."""
    df = REG["eval_cluster_agreement"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # no vec_id-pair SortMergeJoin anywhere; the margin combination is
    # 1-row broadcast nested loops (cross joins of scalar aggregates)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_retrieval_eval_group_limit_and_broadcast_stats(spark):
    """The per-query top-20 must be a WindowGroupLimit (partial per
    partition) and the per-query term stats must broadcast. The
    registered queries consume the memoized/checkpointed relations
    (which hide the pipeline), so the pin targets the raw builder they
    all share."""
    from snackfs_spark.operators.textstats import _retrieval_rank_rel_raw

    _, topk, _, _ = _retrieval_rank_rel_raw(spark, SF_ORACLE)
    plan = formatted_plan(topk)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_prune_probes_scan_side_then_shuffle_hash_semi(spark):
    """The bitmap reaches the fact as a one-row broadcast (nested-loop
    on a single row, NOT a key-hashed broadcast of the dim), the verify
    semi-join runs shuffle-hashed, and the dim is never broadcast-hash-
    joined — the 100x OOM lesson."""
    df = REG["rel_bloom_runtime_filter"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "ShuffledHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_pq_adc_zero_shuffle_encode_group_limit_topk(spark):
    """Encoding and scoring are broadcast-only (no sort-merge join
    anywhere); the per-query top-k must run as WindowGroupLimit so each
    partition emits at most k rows before the query_id shuffle."""
    df = REG["ann_pq_adc"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_merge_upsert_single_full_outer_no_broadcast(spark):
    """MERGE lowers to ONE key-keyed full-outer join; both sides are
    corpus-proportional so neither may be broadcast."""
    df = REG["corpus_merge_upsert"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "FullOuter" in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_sliding_distinct_windows_are_type_partitioned(spark):
    """Both window passes must carry a partition spec (per (type,user)
    islands, per type prefix sum) — no global window anywhere."""
    import re

    df = REG["win_sliding_distinct_users"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "event_type" in spec, spec


def test_collocation_take_ordered_not_global_sort(spark):
    """The top-100 must be TakeOrderedAndProject (partial top-k per
    partition), never a full Sort of the bigram relation."""
    df = REG["text_collocation_lift"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_erasure_layout_broadcasts_ring(spark):
    """The 25-range ring interval match must be a broadcast nested-loop
    join — no shuffle of the blocks relation for the match."""
    df = REG["fs_erasure_layout"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tf_cosine_and_containment_no_cartesian(spark):
    """Candidate generation and verify are equi-join work end-to-end."""
    for name in ("dedup_tf_cosine", "dedup_containment"):
        df = REG[name].fn(spark, SF_ORACLE)
        assert_no_cartesian(df)


# --------------------------------------------------- round-6 operators ----


def test_winnow_partitioned_window_and_equi_join(spark):
    """The rightmost-min selection must run as a doc_id-partitioned
    window (never a global window over the gram relation) and candidate
    generation must stay an equi-join on the fingerprint key."""
    import re

    df = REG["dedup_winnow_fingerprint"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "doc_id" in spec, spec


def test_heat_tiering_never_broadcasts_heat(spark):
    """The per-doc access relation is corpus-proportional, so the file
    join must run shuffle-hashed; the only broadcast is the 1-row doc
    count."""
    df = REG["fs_heat_tiering"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_pcy_bucket_gate_semi_join_no_cartesian(spark):
    """The hot-bucket gate is a semi join with NO forced strategy (AQE
    broadcasts the hot set when it is actually small, shuffle-hashes
    otherwise — the sweep-measured rewrite) and pair generation stays
    equi-join work."""
    df = REG["basket_pairs_pcy"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan


def test_rfm_single_shuffle_then_tiny_rollup(spark):
    """One customer-keyed aggregate is the only exchange before the
    27-cell rollup — no join anywhere in the plan."""
    import re

    df = REG["orders_rfm_segments"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    # formatted plans list each node in the tree AND the detail section;
    # count detail headers: customer agg + 27-cell rollup, nothing else
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_contribution_bounds_broadcasts_candidates_only(spark):
    """Per-user counts stream once against the <=64-row broadcast
    candidate set; the per-user relation itself is never broadcast-
    hash-joined or sorted."""
    df = REG["privacy_contribution_bounds"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_priority_sample_take_ordered_not_global_sort(spark):
    """The top-(K+1) must run as TakeOrderedAndProject — per-partition
    heaps — never a global Sort of the priority relation."""
    df = REG["sample_reservoir_priority"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_kneser_ney_vocab_joins_shuffle_hash(spark):
    """Margin joins run shuffle-hashed on vocab keys (vocab relations
    are corpus-unbounded — never broadcast); the only broadcast is the
    1-row bigram-type total."""
    df = REG["text_kneser_ney_bigram"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row B total
    assert "BroadcastHashJoin" not in plan, plan


def test_cusum_windows_are_type_partitioned(spark):
    """Both window passes (running sum, running min) must carry the
    event_type partition spec — no global window over the lattice."""
    import re

    df = REG["events_cusum_changepoint"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "event_type" in spec, spec


def test_range_partition_plan_single_fact_agg_no_join_shuffles(spark):
    """The only corpus work is the map-side-combined bin count; the
    1-row stats relation joins as a broadcast nested loop, never a
    sort-merge."""
    df = REG["layout_range_partition_plan"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cluster_safe_split_no_cartesian(spark):
    df = REG["split_cluster_safe"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)


def test_join_advisor_pushes_filters_counts_keys_only(spark):
    """Candidate sizes come from key-count algebra: the three filters
    reach their scans, the customer gate is a semi join, and no fact
    row ever joins a fact row (no sort-merge of two fact relations —
    lineitem arrives pre-collapsed to per-orderkey counts)."""
    df = REG["rel_join_order_advisor"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    # o_orderdate's pushdown sits behind the gated-orders
    # localCheckpoint boundary, which the formatted dump does not
    # traverse; the lineitem leg is live in this plan, so its date
    # pushdown is the visible evidence (q3 pins the orders-side date
    # pushdown on an uncheckpointed plan)
    assert_pushed_filter(df, "l_shipdate")
    # the gated-orders relation sits behind a localCheckpoint boundary
    # the dump does not traverse; what remains visible must be the
    # collapsed-relation joins — never a fact-fact sort-merge
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_bpe_fertility_no_cartesian(spark):
    df = REG["bpe_fertility_by_source"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)


def test_vocab_growth_bounded_windows_no_smj(spark):
    """Both cumulatives run over the <= 64-row bucket table; the bucket
    join is tiny (AQE broadcast), never a sort-merge of the corpus."""
    df = REG["text_vocab_growth"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_watermark_audit_single_type_window_then_rollup(spark):
    """One type-partitioned ordered window computes lateness; every
    candidate is a conditional count in the SAME aggregate — exactly
    one window operator in the plan, no join."""
    import re

    df = REG["events_watermark_audit"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "event_type" in spec, spec


def test_hll_daily_union_bucket_partitioned_cums_no_smj(spark):
    """The running union must be a bucket-partitioned window (lattice-
    sized), and no join may sort-merge — every join is over <= |days|
    rows."""
    df = REG["approx_hll_daily_union"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "windowspecdefinition(bucket" in plan, plan


def test_degree_distribution_no_cartesian_map_side_histogram(spark):
    df = REG["graph_degree_distribution"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_audio_vad_asset_partitioned_islands(spark):
    """The islands window must partition by asset (state bounded per
    asset) and the mean join must be shuffle-hashed, never a broadcast
    of the corpus-proportional per-asset totals."""
    import re

    df = REG["multimodal_audio_vad"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "asset_id" in spec, spec
    assert "BroadcastHashJoin" not in plan, plan


def test_rate_limit_user_partitioned_range_window_no_join(spark):
    import re

    df = REG["events_rate_limit_audit"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "user_id" in spec, spec


def test_novelty_curve_no_corpus_join(spark):
    """The occurrence-to-firsts join is GONE (r11 opt): novelty comes
    from (gram, doc) counts + min/min_by per gram, totals from a 10-key
    map-side rollup; the only join is the bounded 10-row decile
    broadcast. No corpus-proportional join of any kind, no distinct
    Expand leg."""
    df = REG["corpus_novelty_curve"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Expand" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the 10-row decile join


def test_centroid_drift_bounded_lattice_no_vector_join(spark):
    """All joins run over the <= 64 x |labels| component lattice or the
    |labels| count relation — no vector-vector join, no sort-merge."""
    df = REG["emb_centroid_drift"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_rebalance_plan_broadcasts_ring_only(spark):
    """The block->host match must be the Q-BLOCKLOC broadcast interval
    join; the planning windows run over <= RING_NODES rows."""
    df = REG["fs_hotspot_rebalance_plan"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_rate_curve_no_forced_broadcast(spark):
    """Same posture as the Jaccard verifier: no join may hint
    broadcast (candidates are corpus-proportional on near-dup-heavy
    crawls); the threshold table is the only explicit broadcast."""
    df = REG["corpus_dedup_rate_curve"].fn(spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = [
        l
        for l in analyzed.splitlines()
        if "ResolvedHint" in l and "broadcast" in l.lower()
    ]
    # the 5-row threshold table broadcast is the single allowed hint
    assert len(hints) <= 1, analyzed


def test_burstiness_two_level_shuffle_no_join(spark):
    """(word, doc) then word collapse — the TF-IDF shuffle class; the
    only join is the 1-row doc-count broadcast."""
    df = REG["text_burstiness"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bot_detection_user_window_then_bounded_rollup(spark):
    """One user-partitioned lag window; the top-share join is shuffle-
    hashed on user keys (corpus-proportional, never broadcast); the
    corpus baseline is the only broadcast."""
    # the lag window sits behind the checkpointed gap relation (the
    # dump does not traverse it); what remains visible must keep the
    # per-user join shuffle-hashed and only the 1-row baseline broadcast
    df = REG["events_bot_detection"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_brightness_drift_bounded_pair_algebra(spark):
    """The pair comparison runs over the <= |sources| x 16 histogram
    (bin-keyed full outer + broadcast totals) — no corpus-sized join."""
    df = REG["multimodal_brightness_drift"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan  # the 10-row totals
    assert "SortMergeJoin" not in plan, plan


def test_dedup_impact_no_cartesian(spark):
    df = REG["corpus_dedup_impact"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)


def test_temporal_holdout_shuffle_hash_spanning_join(spark):
    """The spanning set is corpus-proportional (user keys): shuffle-
    hashed back, never broadcast; the boundary is the only broadcast."""
    df = REG["split_temporal_holdout"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_benford_bounded_tail_after_digit_agg(spark):
    """One 9-key aggregate over the scan; everything after (total
    broadcast, unpartitioned window) runs on <= 9 rows — no sort-merge
    join, no cartesian over data-proportional relations."""
    df = REG["orders_benford_audit"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    assert "SortMergeJoin" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_zipf_octaves_no_global_vocab_window(spark):
    """Ranks come from the per-frequency-group window + the distinct-
    frequency prefix sum; no cartesian anywhere, and the only broadcast
    joins feed bounded relations (the 1-row total, the prefix table) —
    the vocab relation itself is never the build side of a forced
    broadcast."""
    df = REG["text_zipf_octaves"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    # rank assignment must be the partitioned window (Sort [c ..., word ...])
    assert "row_number" in plan, plan


def test_diff_in_diff_single_user_exchange(spark):
    """r11 rewrite: ONE user-keyed aggregate (behind the lazy local
    checkpoint) carries the whole user dimension — pre purchases and
    pre/post clicks are columns of the same groupBy. The visible plan
    after it must contain NO user-keyed join at all (the old shape
    shuffled the user dimension four times: pre-purchase agg, DISTINCT
    universe, treated-flag join, click-cell join) and every remaining
    hash exchange must key only the bounded `treated` axis (<= 2 rows)."""
    import re

    df = REG["events_diff_in_diff"].fn(spark, SF_ORACLE)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys and set(keys) <= {"treated"}, keys


def test_quality_perceptron_single_feature_scan(spark):
    """The corpus feeds ONE feature projection (then a checkpoint);
    every round is aggregate -> 1-row broadcast — the plan must show
    no sort, no window, no data-proportional join."""
    df = REG["text_quality_perceptron"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "WindowExec" not in plan and "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row weight crossJoins


def test_random_projection_broadcast_queries_no_smj(spark):
    """Both top-k passes broadcast the tiny query set against one
    corpus scan; the hit join runs on 50 rows (broadcast) — no
    sort-merge join anywhere."""
    df = REG["emb_random_projection"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_conformal_bounded_histogram_tail(spark):
    """Both halves collapse onto the bounded score histogram before any
    window; no sort-merge join, no cartesian over data-proportional
    relations (the alpha/threshold crossJoins are <= 1001 x 3 rows)."""
    df = REG["eval_conformal_threshold"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_bootstrap_ci_map_side_replicates(spark):
    """The x32 explode must collapse map-side onto B keys: the plan has
    a partial-final aggregate pair on b and no join before it; ranking
    runs on the bounded 32-row relation."""
    df = REG["eval_bootstrap_ci"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "Generate" in plan, plan  # the explode
    assert "HashAggregate" in plan, plan


def test_pareto_abc_no_global_customer_sort(spark):
    """The within-band running sum is a window PARTITIONED by band — the
    customer relation must never hit an unpartitioned global sort; the
    band prefix table is the only broadcast beside the 1-row total."""
    df = REG["orders_pareto_abc"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    # running sum, not rank: every window-function line in the plan
    # (formatted explain renders them as `sum(...)
    # windowspecdefinition(...)`) must be a sum(...) frame, and no
    # ranking function appears anywhere (the old disjunction was
    # tautological — any plan containing the substring "sum" passed;
    # r7 ADVICE)
    assert "row_number(" not in plan.lower(), plan
    assert "rank(" not in plan.lower(), plan
    win_lines = [
        ln for ln in plan.lower().splitlines() if "windowspecdefinition" in ln
    ]
    assert win_lines, plan  # the running sum IS a window — it must exist
    for ln in win_lines:
        assert "sum(" in ln, plan
    assert "SortMergeJoin" not in plan, plan


def test_kcore_checkpointed_rounds_no_corpus_rejoin(spark):
    """After the shared band pipeline, peeling rounds run on
    checkpointed candidate relations: the plan of the returned union
    must scan ExistingRDDs (the checkpoints), with no parquet rescans
    per round beyond the doc-id projection."""
    df = REG["graph_kcore_decomposition"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ring_scaling_two_block_scans_only(spark):
    """The interval match and the moved-half count are the only block
    passes: both are broadcast nested-loop joins against bounded ring
    relations; no shuffle join anywhere."""
    df = REG["fs_ring_scaling_plan"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_generalization_ladder_broadcast_dim_only(spark):
    """Four customer-keyed aggregates; the region rung broadcasts the
    nation dim; no sort-merge join, no cartesian beyond the bounded
    stats crossJoin."""
    df = REG["privacy_generalization_ladder"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_srm_check_single_scan_bounded_tail(spark):
    """One 3-key map-side count over the scan; the expected lattice and
    chi-square fold are bounded broadcasts."""
    df = REG["sample_srm_check"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    # the 3-row obs checkpoint is the only upstream: one parquet scan
    # in the checkpointed lineage, none repeated in the final plan
    assert "Scan ExistingRDD" in plan, plan


def test_harmonic_centrality_bounded_graph_no_smj(spark):
    """Frontier expansion runs on checkpointed |V|²-bounded relations:
    shuffle-hash joins only, no sort-merge join anywhere."""
    df = REG["graph_harmonic_centrality"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_audio_resample_zero_shuffle(spark):
    """One mapInPandas pass: no Exchange at all in the plan (decode
    parallelism = scan parallelism; each asset reduces in its task)."""
    df = REG["multimodal_audio_resample"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # the only exchange is fan_out's documented round-robin re-layout;
    # no hash/range shuffle may appear (per-asset reduction is in-task)
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_rake_phrase_assembly_is_map_side(spark):
    """Phrase assembly is a per-row fold over the token array (r11 opt:
    the doc-keyed running-stop-count windows and their corpus Exchanges
    are gone); the word-score join is shuffle-hash; the final cut is
    the bounded top-K."""
    df = REG["text_rake_keywords"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # no doc-keyed phrase window remains: the only Window node is the
    # bounded top-K cut (one "+- Window" in the tree; its detail block
    # repeats the word once)
    assert plan.count("- Window") == 1, plan


def test_duplicate_payments_single_aggregate(spark):
    """One (custkey, cents) map-side aggregate with the HAVING fused —
    no join, no window, one scan."""
    df = REG["orders_duplicate_payments"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_stop_list_two_level_shuffle_no_join(spark):
    """The burstiness shuffle class: (word, doc) then word collapses,
    1-row doc-count broadcast as the only join."""
    df = REG["text_stop_list_induction"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row crossJoin


def test_conversion_lag_bounded_tail_after_checkpoint(spark):
    """The user-keyed joins live in the checkpointed lag lineage (the
    hinted shuffle-hash side); the VISIBLE plan must be only the
    bounded tail: histogram, prefix window, quantile lookup — no
    sort-merge join, reads the lag checkpoint."""
    df = REG["events_conversion_lag"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_t_closeness_lattice_windows_class_partitioned(spark):
    """Class CDF windows are PARTITIONED by the QI key (<= m rows per
    partition); the band lattice join is shuffle-hash; the corpus
    never hits an unpartitioned sort."""
    df = REG["privacy_t_closeness"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmeans_elbow_broadcast_centroids_per_k(spark):
    """Every k's assignment broadcasts centroids against the corpus
    scan (the emb_kmeans_assign posture x4); no sort-merge join."""
    df = REG["emb_kmeans_elbow"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_pvm_pushes_year_filter_shuffle_hash_part(spark):
    """The two-year filter reaches the parquet scan; the part dim joins
    shuffle-hash (it grows with scale, unlike nation/region)."""
    df = REG["lineitem_pvm_decomposition"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "PushedFilters" in plan, plan


def test_gini_banded_ranks_no_global_sort(spark):
    """Within-band ranks are partitioned windows; the rank-weighted sum
    folds to one row; no TakeOrdered/global sort over customers."""
    df = REG["orders_revenue_gini"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mcnemar_single_row_fold(spark):
    """One scan, one aggregate row, no join at all."""
    df = REG["eval_mcnemar_paired"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan


def test_assortativity_bounded_joins(spark):
    """Degree joins are shuffle-hash over the bounded edge relation;
    moment fold is one row; no sort-merge join."""
    df = REG["graph_degree_assortativity"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_scene_cuts_asset_partitioned_windows(spark):
    """The lag/island windows partition by asset (no unpartitioned
    window over the frame relation); the shot join is shuffle-hash."""
    df = REG["multimodal_scene_cuts"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_lang_confusion_bounded_cells(spark):
    """One scan onto |langs|² cells; margins broadcast; no sort-merge."""
    df = REG["eval_lang_confusion"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_neyman_single_moment_pass(spark):
    """One 3-moment aggregate per stratum, checkpointed for its four
    consumers; the visible plan reads the bounded checkpoint only."""
    df = REG["sample_neyman_allocation"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan


def test_cohort_ltv_shuffle_hash_firsts(spark):
    """The first-order anchor joins back shuffle-hash; cumulative
    windows partition by cohort; sizes broadcast (bounded years)."""
    df = REG["orders_cohort_ltv"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pca_checkpointed_rounds_broadcast_iterate(spark):
    """Each round broadcasts the 64-integer iterate against the
    checkpointed quantized corpus; no data-proportional join or window
    anywhere."""
    df = REG["emb_pca_power_iteration"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # the iterate broadcasts live inside the per-round checkpoints; the
    # returned plan is just the final 64-integer explode off the last
    # checkpoint — nothing corpus-sized, no join, no parquet rescans
    assert "SortMergeJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan


def test_readability_zero_shuffle(spark):
    """Pure per-row projection: no Exchange besides none, no join."""
    df = REG["text_readability"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_rfm_migration_pushes_period_predicates(spark):
    """The period predicates reach both scans; the custkey full-outer
    join is shuffle-hash."""
    df = REG["orders_rfm_migration"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin FullOuter" in plan or "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "PushedFilters" in plan, plan


def test_anisotropy_single_extra_scan(spark):
    """Beyond the PCA checkpoints, one more pass over the quantized
    corpus: broadcast iterate, 1-row folds, no SMJ."""
    df = REG["emb_anisotropy_score"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_balanced_classes_bucket_partitioned_rank(spark):
    """The rank window partitions on (lang, bucket) — never on the bare
    class key; the prefix table broadcasts (bounded 5x1024)."""
    df = REG["sample_balanced_classes"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    # the window sort must include both partition keys
    assert "lang" in plan and "b#" in plan, plan


def test_clustering_coefficient_bounded_joins(spark):
    """Wedge build/close on the checkpointed bounded edge relation; the
    degree join is shuffle-hash; no sort-merge."""
    df = REG["graph_clustering_coefficient"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_split_distribution_bounded_lattice(spark):
    """One scan into the checkpoint; the dense lattice and TV fold are
    bounded broadcasts; no sort-merge."""
    df = REG["split_distribution_check"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_image_simpson_zero_data_shuffle(spark):
    """Binning happens in the decode pass; the only exchange beyond
    fan_out's round-robin is the <= 16-rows-per-asset hash aggregate."""
    df = REG["multimodal_image_simpson"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_link_prediction_topk_and_no_cartesian(spark):
    """The predicted-link ranking is a TakeOrderedAndProject (top-100
    of the |V|²-bounded non-edge relation), the observed-edge removal
    is a broadcast anti-join, and nothing degenerates to a cartesian
    product."""
    df = REG["graph_jaccard_link_prediction"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert_no_cartesian(df)
    assert "LeftAnti" in plan, plan


def test_kmv_sketch_pair_algebra_is_broadcast(spark):
    """Everything after the (checkpointed, <= K-per-group) sketch build
    is broadcast-side algebra: every join in the pairwise set-ops plan
    is a Broadcast* join — no SortMergeJoin, no shuffle of anything
    sketch-sized. (The rank-bounded build itself sits behind the
    localCheckpoint; its K-per-group property is pinned by
    test_round8_ops.test_kmv_estimates_within_bound.)"""
    df = REG["approx_kmv_theta_sketch"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_seasonal_mase_single_order_scan(spark):
    """The month series comes from ONE order scan collapsed map-side;
    the MASE ratio is broadcast back — no second scan of orders."""
    df = REG["orders_seasonal_naive_mase"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert plan.count("o_orderdate") <= plan.count("Scan") * 4
    scans = [l for l in plan.splitlines() if "Scan parquet" in l and "orders" in l]
    assert len(scans) <= 2, plan  # axis bounds + series legs share the cache


def test_chi2_keywords_partial_topk_no_cartesian(spark):
    """Per-class top-k must be a partial WindowGroupLimit; the only
    nested-loop join is the bounded 1-row n_docs broadcast; df/class
    stats ride broadcast hash joins."""
    df = REG["text_chi2_keywords"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rank_rbo_bounded_algebra(spark):
    """Everything downstream of the memoized hybrid ranking is k-row
    algebra: no corpus-table scan may appear in the RBO plan (the
    checkpointed ranking hides the pipeline), and no cartesian
    product beyond the bounded k x k broadcast."""
    df = REG["eval_rank_rbo"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_yule_k_single_scan_two_stage(spark):
    """One parquet scan, map-side partial aggregates on (source, token)
    then source — no joins, no windows."""
    df = REG["text_yule_k"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # one file-scan detail block (the formatted plan repeats the tree
    # node as a numbered detail, so count scan LOCATIONS, not mentions)
    assert plan.count("InMemoryFileIndex") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_kendall_bounded_algebra(spark):
    """Like RBO: no corpus scan may appear downstream of the
    checkpointed hybrid ranking; the pair self-join is k x k bounded."""
    df = REG["eval_rank_kendall"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kfold_single_scan_stratum_window(spark):
    """One parquet scan, one per-stratum ranking window, one grouped
    collapse — no joins."""
    df = REG["split_kfold_assignment"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert plan.count("InMemoryFileIndex") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 1, plan


def test_emd_single_scan_bounded_pairs(spark):
    """The (source, bin) histogram is checkpointed, so the corpus never
    appears in the EMD plan (everything downstream is bounded lattice
    algebra); no cartesian product."""
    df = REG["source_drift_emd"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "InMemoryFileIndex" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the scan lives in the checkpointed histogram, computed once: the
    # UNCHECKPOINTED pipeline would re-derive it four times
    from snackfs_spark.operators.sampling import EMD_MAX_BIN  # noqa: F401


def test_preference_pairs_rank_equijoin(spark):
    """The pairing is a keyed (source, rank) equi-join over BANDED
    per-stratum windows (r9 VERDICT #4): every row_number window must
    partition on (source, q, bkt) — a per-source-only row_number over
    the corpus relation is the skewed-source straggler this operator
    was rewritten to kill. The only per-source windows left run over
    the bounded (source, q, bkt) histogram (prefix sums)."""
    from snackfs_spark.operators.sampling import _pref_ranked

    # window shapes pinned on the UNcheckpointed ranking builder
    rplan = formatted_plan(_pref_ranked(spark, SF_ORACLE))
    rn_lines = [
        l for l in rplan.splitlines() if "row_number() windowspecdefinition" in l
    ]
    assert rn_lines, rplan
    for l in rn_lines:
        assert "bkt" in l, f"corpus-wide per-source ranking window: {l}"
    # the registered query consumes ONE lazily-checkpointed ranking on
    # both sides of the self-join: same RDD twice, no re-derived
    # pipeline, no cartesian shapes
    df = REG["train_preference_pairs"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    rdd_lines = [
        l for l in plan.splitlines()
        if "MapPartitionsRDD[" in l and "localCheckpoint" in l
    ]
    assert len(rdd_lines) == 2, plan
    assert len({l.split("MapPartitionsRDD[")[1].split("]")[0] for l in rdd_lines}) == 1, plan
