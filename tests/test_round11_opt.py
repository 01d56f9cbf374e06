"""Round-11 optimization pins: the shared-pipeline memos added this
round (converged cluster labels, the bigram-LM score relation) and the
single-candidate-build discipline across the dedup family.

Correctness of every affected query stays pinned by the oracle gate
(tests/test_correctness.py); these tests pin the REUSE property the
optimization bought — one build per (session, sf_dir), every consumer
reading the same relation — so a refactor can't silently reintroduce
the N× rebuild."""

from __future__ import annotations

from snackfs_spark import memo
from snackfs_spark.operators import dedup, textstats
from tests.conftest import SF_ORACLE


def _rel(name: str):
    """A shared relation by its registry name, relative to operators."""
    return memo.relation(f"snackfs_spark.operators.{name}")


def test_new_memos_are_session_memos():
    from snackfs_spark.operators import graph, mining

    for fn in (
        dedup.cluster_labels_df,
        dedup.distinct_shingles_df,
        textstats.text_bigram_prob,
        textstats._bpe_chain,
        graph._token_graph,
        mining.basket_items_df,
    ):
        name = f"{fn.__module__}.{fn.__qualname__}"
        assert isinstance(memo.relation(name), memo._Relation), name
        assert hasattr(fn, "__wrapped__"), f"{name} is not @shared"


def test_token_graph_and_bpe_chain_built_once_per_session(spark):
    """The eight graph queries share ONE extracted token graph; the
    three BPE queries share ONE merge chain — repeated calls return the
    identical relations (previously each consumer re-ran the corpus
    scan + distinct-edge shuffle / the K-round fold chain)."""
    from snackfs_spark.operators import graph

    g1 = graph._token_graph(spark, SF_ORACLE)
    g2 = graph._token_graph(spark, SF_ORACLE)
    assert all(a is b for a, b in zip(g1, g2))
    c1 = textstats._bpe_chain(spark, SF_ORACLE)
    c2 = textstats._bpe_chain(spark, SF_ORACLE)
    assert c1[1] is c2[1] and c1[0][0] is c2[0][0]


def test_distinct_shingles_shared(spark):
    a = dedup.distinct_shingles_df(spark, SF_ORACLE)
    b = dedup.distinct_shingles_df(spark, SF_ORACLE)
    assert a is b
    assert set(a.columns) == {"doc_id", "shingle"}


def test_cluster_labels_built_once_per_session(spark):
    """Repeated calls (the golden_record / dedup_impact /
    split_cluster_safe composition pattern) must return the SAME
    converged relation — previously each consumer re-ran the minhash
    pipeline and the whole propagation loop."""
    a = dedup.cluster_labels_df(spark, SF_ORACLE)
    b = dedup.cluster_labels_df(spark, SF_ORACLE)
    assert a is b
    assert set(a.columns) == {"doc_id", "label"}


def test_bigram_scores_built_once_per_session(spark):
    """text_bigram_prob (8 consumers) returns the memoized checkpointed
    relation: same object on every call within a session, schema
    unchanged from the pre-memo shape."""
    a = textstats.text_bigram_prob(spark, SF_ORACLE)
    b = textstats.text_bigram_prob(spark, SF_ORACLE)
    assert a is b
    assert a.columns == ["doc_id", "n_bigrams", "prob_lattice_sum"]


def test_dedup_family_shares_candidate_relation(spark):
    """tf_cosine / containment / rate_curve / ngram_jaccard no longer
    build private copies of the band self-join: after touching them the
    candidate memo holds exactly one entry for this (session, sf_dir)."""
    _rel("dedup.candidate_edges_df").clear()
    dedup.candidate_edges_df(spark, SF_ORACLE)
    n_after_first = len(_rel("dedup.candidate_edges_df"))
    # building the consumers' DataFrames must not create new entries
    dedup.dedup_tf_cosine(spark, SF_ORACLE)
    dedup.dedup_containment(spark, SF_ORACLE)
    dedup.dedup_ngram_jaccard(spark, SF_ORACLE)
    assert len(_rel("dedup.candidate_edges_df")) == n_after_first == 1


def test_kmeans_cents_and_pca_iterate_shared(spark):
    """emb_kmeans_assign and eval_cluster_agreement ride ONE memoized
    centroid chain; the PCA query and the anisotropy eval ride ONE
    memoized quantized corpus + iterate (previously the agreement eval
    re-ran the Lloyd's rounds and anisotropy re-ran the whole power
    iteration on a private quantization). Deeper test runs (iters !=
    the registered count) must NOT populate the memo."""
    from snackfs_spark.operators import clustering as cl

    _rel("clustering._kmeans_cents_registered").clear()
    c1 = cl.kmeans_cents(spark, SF_ORACLE, cl.KMEANS_ITERS)
    c2 = cl.kmeans_cents(spark, SF_ORACLE, cl.KMEANS_ITERS)
    assert c1 is c2
    assert len(_rel("clustering._kmeans_cents_registered")) == 1
    deep = cl.kmeans_cents(spark, SF_ORACLE, cl.KMEANS_ITERS + 2)
    assert deep is not c1
    assert len(_rel("clustering._kmeans_cents_registered")) == 1
    x1 = cl._pca_xq_df(spark, SF_ORACLE)
    x2 = cl._pca_xq_df(spark, SF_ORACLE)
    v1 = cl._pca_iterate_df(spark, SF_ORACLE)
    v2 = cl._pca_iterate_df(spark, SF_ORACLE)
    assert x1 is x2 and v1 is v2


def test_lpa_labels_and_pref_ranking_shared(spark):
    """graph_label_propagation and graph_modularity_score ride ONE
    memoized LPA labeling; train_preference_pairs and train_pair_overlap
    ride ONE memoized banded ranking (previously each consumer re-ran
    the propagation loop / the tokenize + rank pipeline). Deeper LPA
    test runs must NOT populate the memo."""
    from snackfs_spark.operators import graph, sampling

    _rel("graph._lpa_labels_registered").clear()
    l1 = graph.lpa_labels_df(spark, SF_ORACLE, graph.LPA_ROUNDS)
    l2 = graph.lpa_labels_df(spark, SF_ORACLE, graph.LPA_ROUNDS)
    assert l1 is l2
    assert len(_rel("graph._lpa_labels_registered")) == 1
    deep = graph.lpa_labels_df(spark, SF_ORACLE, graph.LPA_ROUNDS + 1)
    assert deep is not l1
    assert len(_rel("graph._lpa_labels_registered")) == 1
    _rel("sampling._pref_ranked_ckpt").clear()
    sampling.train_preference_pairs(spark, SF_ORACLE)
    sampling.train_pair_overlap(spark, SF_ORACLE)
    assert len(_rel("sampling._pref_ranked_ckpt")) == 1


def test_two_sample_tests_share_metric_groups(spark):
    """sample_mann_whitney_u and sample_ks_two_sample ride ONE memoized
    (metric, c0, c1) tie-group relation (previously each re-ran the
    events scan + user-keyed metric shuffle)."""
    from snackfs_spark.operators import sampling

    _rel("sampling.arm_metric_groups_df").clear()
    g1 = sampling.arm_metric_groups_df(spark, SF_ORACLE)
    sampling.sample_mann_whitney_u(spark, SF_ORACLE)
    sampling.sample_ks_two_sample(spark, SF_ORACLE)
    g2 = sampling.arm_metric_groups_df(spark, SF_ORACLE)
    assert g1 is g2
    assert len(_rel("sampling.arm_metric_groups_df")) == 1


def test_quality_score_family_shares_doc_quality_relation(spark):
    """Eleven quality-score consumers ride the memoized stopword-
    permille relation (doc_id, source, n_chars, q) and, for the
    tertile-label evals, the fluency-celled join and the <= 11-row
    reliability bins on top — previously each call re-tokenized the
    corpus (and the calibration evals re-ran the doc-keyed fluency
    join per call)."""
    from snackfs_spark.operators import sampling, textstats

    _rel("textstats.doc_quality_df").clear()
    _rel("textstats._fluency_celled_df").clear()
    _rel("textstats._reliability_bins").clear()
    q1 = textstats.doc_quality_df(spark, SF_ORACLE)
    textstats.eval_quality_auc(spark, SF_ORACLE)
    textstats.eval_kappa_agreement(spark, SF_ORACLE)
    textstats.eval_calibration_ece(spark, SF_ORACLE)
    textstats.eval_brier_decomposition(spark, SF_ORACLE)
    textstats.eval_isotonic_calibration(spark, SF_ORACLE)
    textstats.eval_conformal_threshold(spark, SF_ORACLE)
    textstats.eval_bootstrap_ci(spark, SF_ORACLE)
    textstats.text_perplexity_buckets(spark, SF_ORACLE)
    sampling.corpus_pareto_front(spark, SF_ORACLE)
    sampling.mixture_doremi_reweight(spark, SF_ORACLE)
    sampling.source_quality_tournament(spark, SF_ORACLE)
    q2 = textstats.doc_quality_df(spark, SF_ORACLE)
    assert q1 is q2
    assert len(_rel("textstats.doc_quality_df")) == 1
    assert len(_rel("textstats._fluency_celled_df")) == 1
    assert len(_rel("textstats._reliability_bins")) == 1


def test_sketch_family_shares_type_user_pairs(spark):
    """The four audience-sketch queries ride ONE memoized distinct
    (event_type, user_id) relation, and the three HLL consumers
    additionally share the (type, bucket, reg) register relation —
    previously each re-scanned events and re-ran the distinct-pair
    shuffle (the HLL pair also each re-derived the registers)."""
    from snackfs_spark.operators import relational

    _rel("relational.type_user_pairs_df").clear()
    _rel("relational.hll_type_regs_df").clear()
    p1 = relational.type_user_pairs_df(spark, SF_ORACLE)
    relational.approx_distinct_hll(spark, SF_ORACLE)
    relational.approx_distinct_hll_merged(spark, SF_ORACLE)
    relational.approx_overlap_hll(spark, SF_ORACLE)
    relational.approx_kmv_theta_sketch(spark, SF_ORACLE)
    p2 = relational.type_user_pairs_df(spark, SF_ORACLE)
    assert p1 is p2
    assert len(_rel("relational.type_user_pairs_df")) == 1
    assert len(_rel("relational.hll_type_regs_df")) == 1
