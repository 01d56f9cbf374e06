"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect of the final
small result). A warmup query absorbs session/JIT startup so timings
reflect steady-state operator cost.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from snackfs_spark import memo  # noqa: E402
from snackfs_spark.registry import load_all  # noqa: E402
from snackfs_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family (SURVEY.md §2.B/§2.C).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_revenue_forecast",
    "fs_du",
    "fs_lsr",
    "fs_content",
    "fs_block_locations",
    "fs_lock_arbitration",
    "win_running_order_total",
    "topk_orders",
    "sessionize_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_bruteforce_topk",
    "text_quality_score",
    "text_vocab_topk",
    "split_summary_tokens",
]

# Queries added to the headline after round 1 — reported inside the same
# total, plus a separate r01-comparable subtotal so round-over-round
# numbers stay apples-to-apples.
HEADLINE_R2 = [
    "text_profile",
    "text_repetition",
    "split_contamination_check",
    "multimodal_frame_sample",
]

# Round-3 additions (same honest billing: inside the total, outside the
# r01/r02-comparable subtotals).
HEADLINE_R3 = [
    "text_boilerplate",
]

# Round-4 additions: iterative k-means, SemDeDup-style semantic dedup,
# bigram-LM scoring, and the real-decode PCM feature path.
HEADLINE_R4 = [
    "emb_kmeans_assign",
    "dedup_semantic",
    "text_bigram_prob",
    "multimodal_audio_energy",
    "corpus_build_v2",
]

# Round-5 additions: inverted-index build, bounded-vocab co-occurrence,
# and the two-phase token-budget curriculum selection.
HEADLINE_R5 = [
    "text_inverted_index",
    "text_cooccurrence_topk",
    "curriculum_token_budget",
]

# Round-6 additions: chunk-level source dup-attribution matrix, length-
# bucketed batching report, the directory compaction planner, the
# K-round BPE trainer, the one-pass table profiler, and the
# reproducible training-order shuffle.
HEADLINE_R6 = [
    "dedup_source_matrix",
    "pack_length_buckets",
    "fs_compaction_plan",
    "bpe_learn_merges",
    "table_profile",
    "training_order_shuffle",
]


# Round-7 additions: exact-recall prefix-filter similarity join,
# Count-Min heavy hitters, and the binned quantile sketch.
HEADLINE_R7 = [
    "dedup_prefix_filter",
    "heavy_hitters_countmin",
    "events_quantiles_binned",
]


# Round-8 additions (round 5 of the build): the completed TPC-H shape
# battery's heavier new members, the bloom-filtered decontamination
# (re-benched under its new plan via the R3 slot it already holds), and
# the real-codec text decode.
HEADLINE_R8 = [
    "approx_distinct_hll",
    "q9_product_profit",
    "q21_straggler_suppliers",
    "q16_part_supplier_variety",
    "fs_text_decode",
    "multimodal_decode_features",
    "multimodal_resize",
]


# Round-9 additions (late round 5 of the build): the offline fsck scan
# (two passes + one path-keyed full-outer join) and the span-level
# exact-substring dedup (rolling k-gram positions + islands merge) —
# both token/metadata-proportional shuffles worth watching at scale.
HEADLINE_R9 = [
    "fs_fsck",
    "dedup_span_ngrams",
    "dedup_entity_resolution",
    "corpus_incremental_stats",
    "fs_replica_sets",
    "corpus_takedown_audit",
    "pit_feature_join",
    "events_drift_tv",
    "approx_overlap_hll",
    "events_attribution",
    "corpus_funnel_report",
]


# Round-10 additions (final stretch of build round 5): the z-order
# data-skipping report (one fact scan + tiny-table algebra), the
# CCNet-style sort-free perplexity tertiles, the k-anonymity audit,
# and the measured LSH S-curve tuning report.
HEADLINE_R10 = [
    "layout_zorder_skipping",
    "text_perplexity_buckets",
    "privacy_k_anonymity",
    "dedup_lsh_tuning",
    "eval_quality_auc",
    "corpus_pareto_front",
    "basket_frequent_pairs",
    "events_markov_transitions",
    "eval_cluster_agreement",
    "eval_retrieval_ranks",
    "multimodal_phash_dedup",
    "corpus_jsonl_roundtrip",
    "fs_repair_plan",
]


# Round-11 additions (round-5 continuation): the explicit runtime
# bloom prune, the islands+prefix-sum sliding distinct count, and the
# PQ/ADC compressed ANN path.
HEADLINE_R11 = [
    "rel_bloom_runtime_filter",
    "win_sliding_distinct_users",
    "ann_pq_adc",
    "corpus_merge_upsert",
    "events_seasonal_profile",
    "corpus_csv_roundtrip",
    "graph_bfs_hops",
    "fs_erasure_layout",
    "sample_systematic_pps",
    "dedup_tf_cosine",
    "split_exact_stratified",
    "text_collocation_lift",
    "dedup_containment",
    "fs_quorum_staleness",
    "events_new_vs_returning",
    "events_sequential_pairs",
    "privacy_l_diversity",
    "dedup_golden_record",
]


# Round-12 additions (build round 6): the winnowed-fingerprint locality
# sketch (MOSS), the PCY-pruned frequent pairs, the CUSUM changepoint
# scan, the interpolated Kneser-Ney bigram LM, and the round's eval /
# storage / privacy / sampling flagships.
HEADLINE_R12 = [
    "dedup_winnow_fingerprint",
    "events_cusum_changepoint",
    "text_kneser_ney_bigram",
    "basket_pairs_pcy",
    "eval_calibration_ece",
    "eval_kappa_agreement",
    "orders_rfm_segments",
    "fs_heat_tiering",
    "privacy_contribution_bounds",
    "sample_reservoir_priority",
    "layout_range_partition_plan",
    "split_cluster_safe",
    "rel_join_order_advisor",
    "bpe_fertility_by_source",
    "text_vocab_growth",
    "events_watermark_audit",
    "approx_hll_daily_union",
    "graph_degree_distribution",
    "multimodal_audio_vad",
    "events_rate_limit_audit",
    "corpus_novelty_curve",
    "emb_centroid_drift",
    "fs_hotspot_rebalance_plan",
    "corpus_dedup_rate_curve",
    "text_burstiness",
    "events_bot_detection",
    "multimodal_brightness_drift",
    "corpus_dedup_impact",
    "split_temporal_holdout",
]

# Round-13 additions (round-6 continuation): the Benford monetary audit,
# Zipf octave profile, diff-in-diff readout, the in-engine perceptron
# trainer, and the JL projection acceptance report.
HEADLINE_R13 = [
    "orders_benford_audit",
    "text_zipf_octaves",
    "events_diff_in_diff",
    "text_quality_perceptron",
    "emb_random_projection",
]

# Round-14 additions (round-6 continuation, batch 2): conformal
# calibration, Poisson-bootstrap CI, ABC classification, candidate-graph
# k-core, and the ring node-add plan.
HEADLINE_R14 = [
    "eval_conformal_threshold",
    "eval_bootstrap_ci",
    "orders_pareto_abc",
    "graph_kcore_decomposition",
    "fs_ring_scaling_plan",
]

# Round-15 additions (round-6 continuation, batch 3): the privacy
# ladder, SRM guard, harmonic centrality, PCM resample, and RAKE.
HEADLINE_R15 = [
    "privacy_generalization_ladder",
    "sample_srm_check",
    "graph_harmonic_centrality",
    "multimodal_audio_resample",
    "text_rake_keywords",
]

# Round-16 additions (round-6 continuation, batch 4): duplicate
# payments, induced stop list, conversion lag, t-closeness, elbow.
HEADLINE_R16 = [
    "orders_duplicate_payments",
    "text_stop_list_induction",
    "events_conversion_lag",
    "privacy_t_closeness",
    "emb_kmeans_elbow",
]

# Round-17 additions (round-6 continuation, batch 5): PVM bridge,
# revenue Gini, McNemar, assortativity, scene cuts.
HEADLINE_R17 = [
    "lineitem_pvm_decomposition",
    "orders_revenue_gini",
    "eval_mcnemar_paired",
    "graph_degree_assortativity",
    "multimodal_scene_cuts",
]

# Round-18 additions (round-6 continuation, batch 6): lang confusion,
# Neyman allocation, cohort LTV, in-engine PCA.
HEADLINE_R18 = [
    "eval_lang_confusion",
    "sample_neyman_allocation",
    "orders_cohort_ltv",
    "emb_pca_power_iteration",
]

# Round-19 additions (round-6 continuation, batch 7): readability,
# RFM migration, anisotropy, balanced downsample.
HEADLINE_R19 = [
    "text_readability",
    "orders_rfm_migration",
    "emb_anisotropy_score",
    "sample_balanced_classes",
]

# Round-20 additions (round-6 continuation, batch 8): clustering
# coefficient, split composition guard, image Simpson diversity.
HEADLINE_R20 = [
    "graph_clustering_coefficient",
    "split_distribution_check",
    "multimodal_image_simpson",
]

# Round-21 additions (round 7): Kaplan-Meier survival, Holt linear
# forecast, label-propagation communities, two-proportion A/B test.
HEADLINE_R21 = [
    "events_survival_km",
    "orders_holt_linear_forecast",
    "graph_label_propagation",
    "events_two_proportion_test",
    "sample_coreset_kcenter",
    "orders_open_backlog",
    "dedup_entity_snm",
    "retrieval_boolean_query",
    "corpus_orc_roundtrip",
    "text_blocklist_scan",
    "orders_ar_aging",
    "fs_permission_audit",
    "events_conformance_audit",
    "streaming_windowed_peak",
    "retrieval_mmr_topk",
    "text_distinct_ngrams",
    "fs_namespace_profile",
]


# Round-22 additions (round 8): Jaccard link prediction, KMV theta
# sketch set algebra, NDCG@10 + average precision on the shared BM25
# workload, seasonal-naive MASE, association rules, streaming CDC
# upsert state.
HEADLINE_R23 = [
    # round-9 additions: chi-square keyword selection (one presence
    # shuffle + broadcast algebra), exact dyadic-lattice RBO over the
    # memoized hybrid ranking (k-row algebra), and per-source Yule's K
    # (one token scan -> |sources| rows)
    "text_chi2_keywords",
    "eval_rank_rbo",
    "text_yule_k",
    # batch 2: Kendall tau over the same k-row matched ranking, and the
    # stratified k-fold balance table (one ranking window per stratum)
    "eval_rank_kendall",
    "split_kfold_assignment",
    # batch 3: pairwise 1D EMD on the bounded (source, bin) lattice
    "source_drift_emd",
    # batch 4: rank-mirrored DPO pair construction (per-stratum windows)
    "train_preference_pairs",
    # batch 5: Murphy decomposition on the shared reliability bins
    "eval_brier_decomposition",
]


HEADLINE_R24 = [
    # round-10 additions: both are one-corpus-scan -> bounded-algebra
    # postures (DoReMi multiplicative-weight rounds over the
    # checkpointed |sources| relation; closed-form dyadic epoch math)
    "mixture_doremi_reweight",
    "corpus_epoch_schedule",
    # pair ids join back to token-set projections; per-row set algebra
    "train_pair_overlap",
]


HEADLINE_R25 = [
    # round-11 additions: pass@k (one task-keyed aggregate -> unrolled
    # falling-factorial codegen) and GRPO advantage (group aggregate +
    # co-keyed join back, exact isqrt per group)
    "eval_pass_at_k",
    "train_grpo_advantage",
    # batch 2: best-of-n yield curve (per-task ranking window + one
    # aggregate with binomial codegen) and the source-quality
    # tournament (one corpus scan -> bounded q-lattice algebra)
    "eval_best_of_n_curve",
    "source_quality_tournament",
    # batch 3: matryoshka truncation recall (broadcast query set, one
    # corpus pass computing every prefix cosine, shared ranking windows)
    "emb_matryoshka_recall",
]


HEADLINE_R22 = [
    "graph_jaccard_link_prediction",
    "approx_kmv_theta_sketch",
    "eval_ndcg_at_k",
    "eval_pr_auc",
    "orders_seasonal_naive_mase",
    "mining_association_rules",
    "streaming_cdc_upsert",
    "graph_modularity_score",
    "corpus_budget_apportionment",
    "emb_triplet_mining",
    "sample_ab_power_grid",
    "eval_isotonic_calibration",
    "orders_max_drawdown",
    "sample_mann_whitney_u",
    "sample_ks_two_sample",
]


# Cumulative round groups: drives BOTH the emitted rNN_comparable_subtotal
# keys and the regression-alarm baselines, so a new round group added here
# is automatically reported AND gated (code-review r5: the hand-copied
# lists drifted and left R8 ungated).
ROUNDS = [
    HEADLINE,
    HEADLINE_R2,
    HEADLINE_R3,
    HEADLINE_R4,
    HEADLINE_R5,
    HEADLINE_R6,
    HEADLINE_R7,
    HEADLINE_R8,
    HEADLINE_R9,
    HEADLINE_R10,
    HEADLINE_R11,
    HEADLINE_R12,
    HEADLINE_R13,
    HEADLINE_R14,
    HEADLINE_R15,
    HEADLINE_R16,
    HEADLINE_R17,
    HEADLINE_R18,
    HEADLINE_R19,
    HEADLINE_R20,
    HEADLINE_R21,
    HEADLINE_R22,
    HEADLINE_R23,
    HEADLINE_R24,
    HEADLINE_R25,
]


def _round_groups() -> dict[str, list[str]]:
    groups: dict[str, list[str]] = {}
    acc: list[str] = []
    for i, grp in enumerate(ROUNDS, start=1):
        acc = acc + grp
        groups[f"r{i:02d}_comparable_subtotal"] = acc
    return groups


def _subtotals(timings: dict[str, float]) -> dict[str, float]:
    return {
        key: round(sum(timings[n] for n in names if n in timings), 3)
        for key, names in _round_groups().items()
    }


def _time_query(name: str, run) -> tuple[float, float, int]:
    """Best-of-3 wall time of ``run()``: returns (best, first rep, shared
    relations built during the first rep). The first rep pays one-time
    codegen/plan compilation for the query's unique expressions; later
    reps are steady state (three samples because host timing variance on
    shared boxes is large — factor-3 swings observed run-to-run on
    identical plans). A shared-relation build in rep 2 or 3 (an LRU
    eviction) would hide inside best-of-3, so it prints an ALARM line
    naming the query to stderr — before main()'s stdout JSON line."""
    best = float("inf")
    first = 0.0
    first_builds = 0
    for rep in range(3):
        pre_builds = memo.build_count()
        start = time.perf_counter()
        run()
        elapsed = time.perf_counter() - start
        rep_builds = memo.build_count() - pre_builds
        if rep == 0:
            first, first_builds = elapsed, rep_builds
        elif rep_builds:
            print(
                f"ALARM {name}: rep {rep + 1} rebuilt {rep_builds} "
                "shared relation(s)",
                file=sys.stderr,
            )
        best = min(best, elapsed)
    return best, first, first_builds


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # SPARK_GRAFT_BENCH_GROUPS=N runs only the first N round groups in a
    # fresh session — the isolation probe for session-level drift (r7
    # VERDICT #2: compare a group's alone-in-a-fresh-JVM subtotal to its
    # in-battery subtotal to separate plan regressions from GC/codegen-
    # cache pressure that grows with the 170+-query battery).
    n_groups = int(os.environ.get("SPARK_GRAFT_BENCH_GROUPS", "0")) or len(ROUNDS)
    rounds = ROUNDS[:n_groups]
    registry = load_all()
    spark = get_spark("snackfs_spark_bench")

    # Warmup = the engine's ingest step: re-lay-out the single-file test
    # tables into multi-file parquet (a real deployment's data never
    # arrives as one row group) and materialize the cached
    # filesystem-model views. Both are ingest cost, not query cost.
    from snackfs_spark.sources import fsmodel, tables

    tables.build_ingest_cache(spark, sf_dir)
    registry["q6_revenue_forecast"].fn(spark, sf_dir).collect()
    fsmodel.files_df(spark, sf_dir).count()
    fsmodel.content_df(spark, sf_dir).count()
    fsmodel.locks_df(spark, sf_dir).count()

    timings: dict[str, float] = {}
    # One-time shared-relation build cost billed to each relation's FIRST
    # toucher (r11 VERDICT #1: best-of-3 discarded every shared build, so
    # e.g. text_bigram_prob recorded 0.018 s against a ~1.1 s memo build).
    # Detection: the memo build counter advances during rep 1 iff this
    # query constructed >= 1 shared pipeline; the bill is (rep1 - best),
    # which also includes the query's own codegen compile — a deliberate
    # over- rather than under-statement of the shared cost.
    builds: dict[str, float] = {}
    for name in (n for grp in rounds for n in grp):
        # noop sink: full distributed execution of the plan, no
        # driver-side result transfer billed to the operator.
        best, first, first_touches = _time_query(
            name,
            lambda: registry[name].fn(spark, sf_dir)
            .write.mode("overwrite")
            .format("noop")
            .save(),
        )
        timings[name] = round(best, 3)
        if first_touches > 0 and first > best:
            builds[name] = round(first - best, 3)
        print(
            f"# {name}: {timings[name]}s"
            + (f" (+{builds[name]}s memo build)" if name in builds else ""),
            file=sys.stderr,
        )

    # Headline total is BUILD-INCLUSIVE (r11 VERDICT #1): steady-state
    # best-of-3 per query PLUS every shared memo family's one-time build,
    # billed once to its first toucher. value_best_of_3 keeps the pre-r12
    # methodology for like-for-like comparison with BENCH_r01..r11.
    best_total = round(sum(timings.values()), 3)
    build_overhead = round(sum(builds.values()), 3)
    total = round(best_total + build_overhead, 3)
    # Alarms run (and print to stderr) BEFORE the stdout JSON line: the
    # driver records a merged stdout+stderr 2000-char TAIL, so the JSON
    # must be the LAST thing emitted — r9's 22 ALARM lines landed after
    # the JSON and displaced it out of the tail (BENCH_r09.json
    # parsed: null; r9 VERDICT #2).
    hard, drift = _alarm_on_subtotal_regressions(timings, sf)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "value_best_of_3": best_total,
        "build_overhead": build_overhead,
        "host_drift": drift,
        "queries": timings,
        "queries_build": builds,
        **_subtotals(timings),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Persist the COMPLETE result: the driver records only the last
    # 2000 chars of stdout, which a 160+-query map overflows (r6
    # VERDICT #2 — BENCH_r06.json's tail truncated mid-JSON and lost
    # the per-query timings). var/bench_last.json always holds the
    # whole payload; stdout gets ONE compact line that FITS the tail
    # window: totals + every round subtotal + the r01-comparable
    # per-query map (the group BASELINE.md is judged against).
    full_path = Path(__file__).resolve().parent / "var" / "bench_last.json"
    full_path.parent.mkdir(exist_ok=True)
    full_path.write_text(json.dumps(payload) + "\n")
    # Append the full payload to the drift-anchor history (r10 ADVICE:
    # the compact stdout line carries only the HEADLINE queries, so the
    # history file is what keeps the whole battery anchoring the
    # steal-vs-regression median). Appended AFTER the alarm pass, so a
    # run never anchors against itself.
    with open(full_path.parent / "bench_history.jsonl", "a") as hist:
        hist.write(json.dumps(payload) + "\n")
    compact = {
        **{k: v for k, v in payload.items() if k not in ("queries", "queries_build")},
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "n_queries": len(timings),
        "queries_full": "var/bench_last.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # stay inside the driver's 2000-char tail
        compact.pop("queries")
        line = json.dumps(compact, separators=(",", ":"))
    sys.stderr.flush()  # keep the merged-capture ordering: alarms, THEN json
    print(line)
    sys.stdout.flush()
    spark.stop()
    if hard:
        # r6 VERDICT #4: a >HARD_RATIO group regression must FAIL the
        # run, not just warn — exit 3 so the driver records a nonzero
        # rc next to the (still fully printed) result payload.
        sys.exit(3)


# Round-over-round regression gate (r4 VERDICT #6): every recorded
# BENCH_r{N}.json carries the comparable subtotals of its day; if any of
# this run's matching subtotals exceeds 1.1x the most recent recorded
# value, print an ALARM line so a regression is caught the run it lands,
# not at judging time. Stderr-only: the driver parses stdout's one JSON
# line and must keep doing so. Above HARD_RATIO the run FAILS (exit 3,
# r6 VERDICT #4) — soft alarms tolerate host timing variance, the hard
# gate catches real plan regressions.
#
# Steal-awareness (r9 VERDICT #3): round 9 proved the shared host's CPU
# steal moves EVERY query by the same factor (three runs of identical
# code: 159 s -> 186 s -> 238 s; plans pinned unchanged), which tripped
# the HARD gate on pure host noise. A real plan regression moves ONE
# group; host steal moves the whole fleet. So the gate first estimates
# host drift as the MEDIAN per-query ratio of this run vs the best
# recorded time of the same query across all prior benches (the
# anchors: every query any prior record carries), clamps it to
# [1.0, DRIFT_CAP], and escalates soft->HARD only on the drift-ADJUSTED
# ratio. A uniform slowdown inflates the median and is divided out; a
# single-group regression leaves the median ~1 and still fails. The cap
# bounds what uniformity can excuse: a >DRIFT_CAP*HARD_RATIO raw blowup
# fails even if uniform (that is a session-config regression, not
# weather).
ALARM_RATIO = 1.1
HARD_RATIO = 1.5
DRIFT_CAP = 2.0
# Per-query drift floors are the MEDIAN of the most recent K recorded
# times, not the all-time best (r10 ADVICE: a best-ever floor biases
# drift > 1 on every normal day, weakening the HARD gate by exactly
# that bias).
RECENT_FLOOR_K = 5


def _median(vals: list[float]) -> float:
    vals = sorted(vals)
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


def _host_drift(timings: dict[str, float], minima: dict[str, float]) -> float:
    """Median over anchor queries of now/recent-floor, clamped to
    [1.0, DRIFT_CAP]. Pure function (unit-tested with synthetic data).
    Needs >= 5 anchors to trust the median; fewer -> 1.0 (no excuse)."""
    ratios = sorted(
        timings[n] / minima[n]
        for n in timings
        if n in minima and minima[n] > 0
    )
    if len(ratios) < 5:
        return 1.0
    mid = len(ratios) // 2
    med = ratios[mid] if len(ratios) % 2 else (ratios[mid - 1] + ratios[mid]) / 2
    return max(1.0, min(DRIFT_CAP, med))


def _prior_bench_data(
    sf: str, here: str | None = None
) -> tuple[dict[str, tuple[str, float]], dict[str, float]]:
    """Scan every prior record at this sf: (latest subtotal per group
    key, per-query recent-median floor seconds).

    Anchor breadth (r10 ADVICE): the compact stdout line keeps only the
    ~19 r01 HEADLINE queries, so BENCH_r*.json alone starves the drift
    median and can't separate an infra regression from host steal. The
    full per-query payloads persisted to var/bench_history.jsonl (one
    line per run, appended by main()) and var/bench_last.json (seed for
    repos that predate the history file) widen the anchor set to the
    whole battery. Floors are the median of each query's most recent
    RECENT_FLOOR_K observations, not the all-time minimum."""
    import glob
    import re

    prior: dict[str, tuple[str, float]] = {}
    series: dict[str, list[float]] = {}

    def _note_queries(qmap) -> None:
        for name, sec in (qmap or {}).items():
            try:
                sec = float(sec)
            except (TypeError, ValueError):
                continue
            if sec > 0:
                series.setdefault(name, []).append(sec)

    here = here or os.path.dirname(os.path.abspath(__file__))
    sf_norm = str(float(sf) if sf.replace(".", "").isdigit() else sf)
    for path in sorted(glob.glob(os.path.join(here, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        # the driver wraps bench's JSON line under "parsed"; when the
        # line overflowed the driver's 2000-char tail (parsed null —
        # BENCH_r06), recover the subtotal keys from the tail TEXT so
        # every measured group still has a pinned floor (r6 VERDICT #4)
        if isinstance(rec.get("parsed"), dict):
            rec = {"sf": rec.get("sf"), **rec["parsed"]}
        elif isinstance(rec.get("tail"), str):
            recovered = {
                m.group(1): float(m.group(2))
                for m in re.finditer(
                    r'"(r\d+_comparable_subtotal)":\s*([0-9.]+)', rec["tail"]
                )
            }
            rec = {"sf": rec.get("sf"), **recovered}
        if str(rec.get("sf")) != sf_norm:
            continue
        for key in rec:
            if key.endswith("_comparable_subtotal"):
                prior[key] = (os.path.basename(path), float(rec[key]))
        _note_queries(rec.get("queries"))
    # full-payload history (chronological append order = most recent
    # last); fall back to bench_last.json when no history exists yet
    hist_lines: list[dict] = []
    try:
        with open(os.path.join(here, "var", "bench_history.jsonl")) as f:
            for line in f:
                try:
                    hist_lines.append(json.loads(line))
                except ValueError:
                    continue
    except OSError:
        pass
    if not hist_lines:
        try:
            with open(os.path.join(here, "var", "bench_last.json")) as f:
                hist_lines = [json.load(f)]
        except (OSError, ValueError):
            pass
    for rec in hist_lines:
        if str(rec.get("sf")) == sf_norm:
            _note_queries(rec.get("queries"))
    floors = {
        name: _median(vals[-RECENT_FLOOR_K:]) for name, vals in series.items()
    }
    return prior, floors


def _alarm_on_subtotal_regressions(
    timings: dict[str, float], sf: str
) -> tuple[bool, float]:
    """Print soft alarms (raw ratio > ALARM_RATIO); return (hard, drift)
    where hard is True iff any group's DRIFT-ADJUSTED ratio exceeds
    HARD_RATIO."""
    groups = _round_groups()
    prior, minima = _prior_bench_data(sf)
    drift = _host_drift(timings, minima)
    if drift > 1.0:
        print(
            f"# host drift estimate: {drift:.2f}x (median over "
            f"{len(set(timings) & set(minima))} anchor queries vs best"
            " recorded; uniform slowdown divided out of the HARD gate)",
            file=sys.stderr,
        )
    hard = False
    for key, names in groups.items():
        if key not in prior:
            continue
        src, old = prior[key]
        now = sum(timings[n] for n in names if n in timings)
        if old > 0 and now > ALARM_RATIO * old:
            adj = now / old / drift
            level = "ALARM_HARD" if adj > HARD_RATIO else "ALARM"
            hard = hard or adj > HARD_RATIO
            print(
                f"# {level} subtotal regression: {key} {now:.3f}s vs "
                f"{old:.3f}s in {src} ({now / old:.2f}x raw, "
                f"{adj:.2f}x drift-adjusted vs {ALARM_RATIO}/{HARD_RATIO})",
                file=sys.stderr,
            )
    return hard, round(drift, 3)


if __name__ == "__main__":
    main()
