"""Targeted behavior tests for the round-5 operators, beyond the oracle
hash checks: codec refusal paths, diff-class conservation, winsorized
threshold sanity, HLL estimate quality, and negative-sampling contracts."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from snackfs_spark.registry import load_all
from tests.conftest import SF_ORACLE, SF_SMALL

REG = load_all()


def test_text_decode_refuses_sequencefile():
    """Hadoop Text would decode a SequenceFile; this engine does not
    implement that container, and a real codec refuses rather than
    passing the binary through as 'plain'."""
    from snackfs_spark.operators.content import _decode_text

    batch = pd.DataFrame({"path": ["/x"], "payload": [b"SEQ\x06garbage"]})
    with pytest.raises(ValueError, match="SequenceFile"):
        list(_decode_text(iter([batch])))


def test_text_decode_codec_split(spark):
    """Odd doc_ids stored gzip, doc_id % 4 == 2 as ZIP archives, the
    rest plain — and the decoded output is identical in every case (the
    whole point of the verb)."""
    out = REG["fs_text_decode"].fn(spark, SF_SMALL).collect()
    assert out
    seen = set()
    for r in out:
        doc_id = int(r["path"].rsplit("_", 1)[1].removesuffix(".txt"))
        want = "gzip" if doc_id % 2 == 1 else ("zip" if doc_id % 4 == 2 else "plain")
        assert r["codec"] == want
        seen.add(r["codec"])
    assert seen == {"gzip", "zip", "plain"}


def test_snapshot_diff_classes_conserve_documents(spark):
    """added + deleted + modified + unchanged must reconstruct both
    snapshots' cardinalities exactly."""
    rows = {r["status"]: r for r in REG["corpus_snapshot_diff"].fn(spark, SF_SMALL).collect()}
    n_docs = REG["fs_count"].fn(spark, SF_SMALL)  # not the doc count; use table
    base = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n = base.count()
    n_deleted = base.filter(F.col("doc_id") % 17 == 0).count()
    n_added = base.filter(F.col("doc_id") % 19 == 0).count()
    got = {k: v["n_docs"] for k, v in rows.items()}
    assert got.get("deleted", 0) == n_deleted
    assert got.get("added", 0) == n_added
    # v1 cardinality = deleted + modified + unchanged
    assert got.get("deleted", 0) + got.get("modified", 0) + got.get("unchanged", 0) == n


def test_winsorized_thresholds_bracket_and_clip(spark):
    """lo_thr <= hi_thr per group, clipped counts below ~5%+binwidth on
    each side, and the winsorized mean lies inside [lo_thr, hi_thr]."""
    for r in REG["events_winsorized_stats"].fn(spark, SF_ORACLE).collect():
        assert r["lo_thr"] <= r["hi_thr"], r
        assert r["lo_thr"] <= r["winsorized_mean"] <= r["hi_thr"], r
        # one-sided clip fractions: <= q plus the threshold bin's own
        # mass (the threshold is the bin's UPPER edge, so everything in
        # that bin below the edge also clips) — 8% is the bound for
        # this bin width and value density
        assert r["n_clipped_lo"] <= 0.08 * r["n"] + 1, r
        assert r["n_clipped_hi"] <= 0.08 * r["n"] + 1, r


def test_hll_estimate_within_published_error(spark):
    """HLL with m=256 has ~1.04/sqrt(m) = 6.5% standard error; the raw
    estimate must land within a generous 3-sigma of exact for the
    fixture's cardinalities (no corrections applied, so allow the
    small-range bias too)."""
    for r in REG["approx_distinct_hll"].fn(spark, SF_ORACLE).collect():
        rel = abs(r["raw_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 1.0, r  # raw (uncorrected) estimate in the right ballpark
    merged = REG["approx_distinct_hll_merged"].fn(spark, SF_ORACLE).collect()[0]
    assert merged["lattice_sum"] > 0


def test_negative_sampling_contract(spark):
    """Every anchor draws exactly NEG_K rows (ids are dense in the
    fixture so every draw resolves), draws are deterministic across
    runs, and is_valid flags exactly the same-label collisions."""
    from snackfs_spark.operators.similarity import NEG_K

    df = REG["emb_negative_sampling"].fn(spark, SF_ORACLE)
    rows = df.collect()
    per_anchor: dict[int, int] = {}
    for r in rows:
        per_anchor[r["vec_id"]] = per_anchor.get(r["vec_id"], 0) + 1
    n_vec = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").count()
    assert len(per_anchor) == n_vec
    assert set(per_anchor.values()) == {NEG_K}
    again = {(r["vec_id"], r["draw"]): r["neg_id"] for r in df.collect()}
    assert all(again[(r["vec_id"], r["draw"])] == r["neg_id"] for r in rows)


def test_dq_battery_is_green_on_fixture(spark):
    """The generated star schema satisfies every rule — a violation here
    means the fixture (or a loader) broke, which is exactly the signal
    the battery exists to raise."""
    for r in REG["dq_check_battery"].fn(spark, SF_ORACLE).collect():
        assert r["n_violations"] == 0, r
        assert r["n_checked"] > 0, r


def test_cm_join_estimate_overestimates(spark):
    """Count-Min inner products only ever over-count (hash collisions
    add, never subtract): estimate >= exact."""
    r = REG["join_size_estimate_cm"].fn(spark, SF_ORACLE).collect()[0]
    assert r["cm_estimate"] >= r["exact_join_size"] > 0


def test_fsck_finding_classes_and_injection_targets(spark):
    """Every fault class must surface, each path at most once, and the
    ORPHAN_CONTENT set must be exactly the injected lost-inode files that
    still have surviving chunks (re-derived here independently)."""
    out = REG["fs_fsck"].fn(spark, SF_SMALL).collect()
    assert {r["finding"] for r in out} == {
        "ORPHAN_CONTENT",
        "MISSING_CHUNK",
        "UNTRACKED_APPEND",
    }
    paths = [r["path"] for r in out]
    assert len(paths) == len(set(paths)), "a path classified twice"
    assert all(r["bytes"] > 0 for r in out), "finding with zero byte delta"

    from snackfs_spark.functions import md5_bucket
    from snackfs_spark.sources.fsmodel import files_df

    lost = {
        r["path"]
        for r in files_df(spark, SF_SMALL)
        .filter(~F.col("is_dir") & (F.col("size") > 0))
        .withColumn("b", md5_bucket(F.col("path"), 13))
        .filter(F.col("b") == 3)
        .collect()
    }
    orphans = {r["path"] for r in out if r["finding"] == "ORPHAN_CONTENT"}
    # orphan <=> inode lost AND at least one chunk survived the chunk-loss
    # injection; a lost inode whose every chunk was also lost leaves no
    # evidence, so orphans is a subset (usually equal at this scale)
    assert orphans <= lost and orphans


def test_span_dedup_bounds(spark):
    """dup_tokens never exceeds the doc's token count and every reported
    doc has at least one span (the exact-duplicate = 100%-duplicated
    property is pinned on the crafted corpus below — the fixture has no
    exact duplicates to exercise it)."""
    rows = REG["dedup_span_ngrams"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 1 <= r["dup_tokens"] <= r["n_tokens"]
        assert 0.0 < r["dup_frac"] <= 1.0
        assert r["n_dup_spans"] >= 1


def test_span_dedup_crafted_corpus(spark, tmp_path):
    """Crafted corpus with KNOWN span structure (the fixture has no exact
    duplicates): two docs share one 8-token run, one doc is an exact twin
    of another, one doc is unique. Expected spans computed by hand."""
    from snackfs_spark.operators.dedup import SPAN_K

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                f"one two {shared} three four five",  # shared run at pos 2..9
                f"{shared} six seven eight nine ten eleven",  # at pos 0..7
                "twelve thirteen fourteen fifteen sixteen seventeen",  # unique
                f"one two {shared} three four five",  # exact twin of doc 1
            ],
        }
    )
    docs["lang"] = "en"
    docs["source"] = "src0"
    docs["n_chars"] = docs["text"].str.len()
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)

    out = {r["doc_id"]: r for r in REG["dedup_span_ngrams"].fn(spark, sf_dir).collect()}
    # doc 3 is unique: absent
    assert set(out) == {1, 2, 4}
    # docs 1 and 4 are exact twins: the whole doc is one duplicated span
    for d in (1, 4):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_tokens"] == out[d]["n_tokens"] == 13
        assert out[d]["dup_frac"] == 1.0
    # doc 2 shares only the 8-token run: k-gram starts 0..3, span [0, 3+K-1]
    assert out[2]["n_dup_spans"] == 1
    assert out[2]["dup_tokens"] == 4 + SPAN_K - 1 == 8
    assert out[2]["n_tokens"] == 14


def test_entity_resolution_links_typos_rejects_decoys(spark):
    """Every injected typo-duplicate must link to its base registration;
    no injected same-block decoy may link to anything (blocking recall +
    verify precision, re-derived independently here)."""
    pairs = REG["dedup_entity_resolution"].fn(spark, SF_SMALL).collect()
    assert pairs
    linked = {(r["reg_a"], r["reg_b"]) for r in pairs}

    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    b7 = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 7
    )
    typo_keys = [r["c_custkey"] for r in cust.filter(b7 == 2).collect()]
    assert typo_keys
    for ck in typo_keys:
        assert (ck, ck + 1000000000) in linked, f"typo dup of {ck} not linked"
    # a decoy must never link to ITS OWN base (that is the precision
    # contract the injection exists to test); decoy-decoy pairs at large
    # scale can be legitimate 1-edit matches and are not asserted on
    bad = {
        (a, b)
        for a, b in linked
        if b >= 2000000000 and b - 2000000000 == a
    }
    assert not bad, f"decoys linked to their own base: {bad}"


def test_incremental_stats_totals_match_diff_classes(spark):
    """Sum of per-source doc counts must equal the v2 cardinality implied
    by the snapshot-diff classes (added + modified + unchanged)."""
    stats = REG["corpus_incremental_stats"].fn(spark, SF_SMALL).collect()
    assert stats
    for r in stats:
        assert r["n_tokens"] >= r["n_docs"] > 0
        assert r["n_chars"] >= r["n_tokens"]
    diff = {r["status"]: r["n_docs"] for r in REG["corpus_snapshot_diff"].fn(spark, SF_SMALL).collect()}
    v2_docs = diff.get("added", 0) + diff.get("modified", 0) + diff.get("unchanged", 0)
    assert sum(r["n_docs"] for r in stats) == v2_docs


def test_replica_sets_conservation_and_balance(spark):
    """Every block places exactly RF replicas: per-host totals sum to
    RF x #blocks, primaries sum to #blocks, and the LCG token dispersion
    must put load on every host."""
    from snackfs_spark.sources.fsmodel import REPLICATION, RING_NODES, blocks_df

    rows = REG["fs_replica_sets"].fn(spark, SF_SMALL).collect()
    n_blocks = blocks_df(spark, SF_SMALL).count()
    assert len(rows) == RING_NODES
    assert sum(r["n_primary"] for r in rows) == n_blocks
    assert sum(r["n_total"] for r in rows) == REPLICATION * n_blocks
    for r in rows:
        assert r["n_total"] == r["n_primary"] + r["n_replica"]
        assert r["n_total"] > 0, f"host {r['host']} has no replicas"


def test_takedown_cascade_conservation(spark):
    """The chunk store must account for every takedown byte exactly
    (sub-block lengths partition the doc text), and each artifact leg is
    non-empty at fixture scale."""
    rows = {r["artifact"]: r for r in REG["corpus_takedown_audit"].fn(spark, SF_SMALL).collect()}
    assert set(rows) == {"documents", "content_chunks", "index_postings", "shingle_rows"}
    assert rows["documents"]["n_rows"] > 0
    assert rows["content_chunks"]["n_bytes"] == rows["documents"]["n_bytes"]
    # 64-char sub-blocks: chunk rows within [bytes/64, bytes/64 + n_docs]
    lo = rows["documents"]["n_bytes"] // 64
    hi = lo + rows["documents"]["n_rows"]
    assert lo <= rows["content_chunks"]["n_rows"] <= hi
    assert rows["index_postings"]["n_rows"] > 0
    assert rows["shingle_rows"]["n_rows"] > 0


def test_pit_join_no_leakage_either_direction(spark):
    """Re-derive the expected per-order segment with plain Python for
    every order of bucketed (version-2) customers: orders strictly before
    the change date must see the v1 segment, orders on/after must see the
    NEW- segment — no future leakage, no stale reads. Verified via the
    aggregate: recompute the rollup independently and compare."""
    import hashlib
    from collections import defaultdict
    from datetime import date

    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.read.parquet(f"{SF_SMALL}/customer.parquet").collect()
    }

    def bucket3(ck: int) -> int:
        return int(hashlib.md5(str(ck).encode()).hexdigest()[:15], 16) % 3

    def add_months(d: date, m: int) -> date:
        y, mo = divmod((d.year * 12 + d.month - 1) + m, 12)
        return date(y, mo + 1, 1)

    expect: dict[tuple[str, int], int] = defaultdict(int)
    for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect():
        ck, od = r["o_custkey"], r["o_orderdate"].date()
        seg = cust[ck]
        if bucket3(ck) == 1 and od >= add_months(date(1996, 1, 1), ck % 48):
            seg = f"NEW-{seg}"
        expect[(seg, od.year)] += 1

    got = {
        (r["seg_at_order"], r["order_year"]): r["n_orders"]
        for r in REG["pit_feature_join"].fn(spark, SF_SMALL).collect()
    }
    assert got == dict(expect)
    assert any(k[0].startswith("NEW-") for k in got), "no v2 segment ever applied"


def test_drift_tv_bounds_and_self_distance(spark):
    """TV is a metric on distributions: week 0 vs itself must be EXACTLY
    zero (integer numerator, not epsilon-zero), and every distance lies
    in [0, 1]."""
    rows = REG["events_drift_tv"].fn(spark, SF_ORACLE).collect()
    assert rows
    week0 = [r for r in rows if r["week"] == 0]
    assert week0
    for r in week0:
        assert r["tv_numer"] == 0 and r["tv_distance"] == 0.0
    for r in rows:
        assert 0.0 <= r["tv_distance"] <= 1.0
        assert r["n_events"] > 0


def test_hll_overlap_sketch_algebra(spark):
    """Union-by-register-MAX must dominate both members: the union
    lattice sum is <= either member's (higher registers shrink the sum),
    and the inclusion-exclusion estimate stays below est_a + est_b."""
    singles = {
        r["event_type"]: r["lattice_sum"]
        for r in REG["approx_distinct_hll"].fn(spark, SF_ORACLE).collect()
    }
    pairs = REG["approx_overlap_hll"].fn(spark, SF_ORACLE).collect()
    assert pairs
    for r in pairs:
        assert r["union_lattice"] <= singles[r["type_a"]]
        assert r["union_lattice"] <= singles[r["type_b"]]
        assert r["exact_overlap"] >= 0


def test_attribution_conserves_revenue_across_models(spark):
    """First-touch and last-touch each assign every touched purchase to
    exactly one channel, so their totals must be identical; linear credit
    totals the same revenue minus only integer-div truncation (< 1
    micro-cent per touchpoint)."""
    rows = REG["events_attribution"].fn(spark, SF_ORACLE).collect()
    assert rows
    ft_total = round(sum(r["first_touch_revenue"] for r in rows), 2)
    lt_total = round(sum(r["last_touch_revenue"] for r in rows), 2)
    assert ft_total == lt_total > 0
    assert sum(r["n_first"] for r in rows) == sum(r["n_last"] for r in rows)
    linear_micro = sum(r["linear_micro"] for r in rows)
    total_micro = int(ft_total * 100) * 10000
    assert linear_micro <= total_micro
    # truncation loses < 1 microcent per (purchase, touch) pair
    assert total_micro - linear_micro < 10_000_000


def test_funnel_agrees_with_capstone_and_is_monotone(spark):
    """The funnel's last stage must equal corpus_build_v2's n_docs
    exactly (shared gate signals), counts never increase, and rejections
    reconcile adjacent stages."""
    rows = sorted(
        REG["corpus_funnel_report"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["stage_idx"],
    )
    assert [r["stage"] for r in rows] == [
        "raw", "exact_dedup", "quality", "fluency", "semantic_dedup", "train_split",
    ]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_docs"] <= prev["n_docs"]
        assert cur["n_rejected"] == prev["n_docs"] - cur["n_docs"]
    capstone = REG["corpus_build_v2"].fn(spark, SF_ORACLE).collect()[0]
    assert rows[-1]["n_docs"] == capstone["n_docs"]


def test_zorder_skipping_beats_linear_on_two_column_queries(spark):
    """The layout report's whole claim: on rectangles constraining BOTH
    key columns, the Morton layout reads fewer buckets than the linear
    layout on aggregate, every query's reads are within [0, total], and
    rows_read covers at least the rows actually matching the rectangle
    (min/max pruning is conservative, never lossy)."""
    rows = REG["layout_zorder_skipping"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 32  # 2 layouts x 16 queries
    by = {(r["layout"], r["query_id"]): r for r in rows}
    lin = sum(by[("linear", q)]["n_buckets_read"] for q in range(16))
    zor = sum(by[("zorder", q)]["n_buckets_read"] for q in range(16))
    assert 0 < zor < lin
    for r in rows:
        assert 0 <= r["n_buckets_read"] <= r["n_buckets_total"] <= 256
        assert r["n_rows_read"] >= 0
    # pruning is conservative: reading the flagged buckets can never
    # miss a matching row, so rows_read >= exact selectivity count
    from snackfs_spark.operators.layout import _QUERIES, _SPAN
    from snackfs_spark.sources.tables import load_table

    li = load_table(spark, SF_ORACLE, "lineitem")
    stats = li.agg(
        F.min("l_orderkey").alias("a_min"), F.max("l_orderkey").alias("a_max"),
        F.min("l_partkey").alias("b_min"), F.max("l_partkey").alias("b_max"),
    )
    scaled = li.join(F.broadcast(stats)).selectExpr(
        f"((l_orderkey - a_min) * {_SPAN}) div greatest(a_max - a_min, 1) AS sa",
        f"((l_partkey - b_min) * {_SPAN}) div greatest(b_max - b_min, 1) AS sb",
    )
    q0, a_lo, a_hi, b_lo, b_hi = _QUERIES[0]
    exact = scaled.filter(
        F.col("sa").between(a_lo, a_hi) & F.col("sb").between(b_lo, b_hi)
    ).count()
    for layout in ("linear", "zorder"):
        assert by[(layout, q0)]["n_rows_read"] >= exact


def test_morton_sql_matches_spark_interleave(spark):
    """The oracle's generated bit-interleave SQL and the Spark-side
    zorder_key must be the same function on raw probe values."""
    import duckdb

    from snackfs_spark.operators.layout import _morton_sql
    from snackfs_spark.sources.zorder import zorder_key

    probes = [(0, 0), (1, 0), (0, 1), (65535, 0), (0, 65535), (12345, 54321)]
    con = duckdb.connect()
    for a, b in probes:
        want = con.execute(
            f"SELECT {_morton_sql(str(a), str(b))}"
        ).fetchone()[0]
        got = (
            spark.range(1)
            .select(zorder_key(F.lit(a), F.lit(b)).alias("z"))
            .collect()[0]["z"]
        )
        assert got == want, (a, b)


def test_perplexity_buckets_partition_corpus_and_order(spark):
    """head/middle/tail must partition the corpus exactly, bucket score
    ranges must be disjoint and ordered (cell-granular boundaries:
    every head score > every middle score > every tail score), and the
    head must hold roughly a third of documents."""
    from snackfs_spark.sources.tables import load_table

    rows = REG["text_perplexity_buckets"].fn(spark, SF_ORACLE).collect()
    n_total = load_table(spark, SF_ORACLE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_total
    by_bucket = {}
    for r in rows:
        lo, hi, n = by_bucket.get(r["bucket"], (None, None, 0))
        by_bucket[r["bucket"]] = (
            r["min_q"] if lo is None else min(lo, r["min_q"]),
            r["max_q"] if hi is None else max(hi, r["max_q"]),
            n + r["n_docs"],
        )
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert by_bucket["head"][0] > by_bucket["middle"][1]
    assert by_bucket["middle"][0] > by_bucket["tail"][1]
    head_frac = by_bucket["head"][2] / n_total
    assert 0.15 < head_frac < 0.5


def test_k_anonymity_partitions_rows_and_flags_correctly(spark):
    """The k-class distribution must account for every customer row
    exactly once (n_rows = group_size * n_groups, totals match the
    table), and at_risk must be group_size < 5 precisely."""
    from snackfs_spark.operators.relational import K_ANON_THRESHOLD
    from snackfs_spark.sources.tables import load_table

    rows = REG["privacy_k_anonymity"].fn(spark, SF_ORACLE).collect()
    assert rows
    total = load_table(spark, SF_ORACLE, "customer").count()
    assert sum(r["n_rows"] for r in rows) == total
    for r in rows:
        assert r["n_rows"] == r["group_size"] * r["n_groups"]
        assert r["at_risk"] == (r["group_size"] < K_ANON_THRESHOLD)


def test_lsh_tuning_nested_configs_and_bounds(spark):
    """The three bandings refine each other (an r=8 band match implies
    both r=4 sub-band matches, etc.), so candidates and true-finds must
    be monotone in the band count; all ratios bounded; truth count
    config-independent."""
    rows = {r["config"]: r for r in REG["dedup_lsh_tuning"].fn(spark, SF_ORACLE).collect()}
    assert set(rows) == {"b8r2", "b4r4", "b2r8"}
    truth_counts = {r["n_true_pairs"] for r in rows.values()}
    assert len(truth_counts) == 1 and truth_counts.pop() > 0
    order = ["b2r8", "b4r4", "b8r2"]  # increasing bands -> looser threshold
    for lo, hi in zip(order, order[1:]):
        assert rows[lo]["n_candidates"] <= rows[hi]["n_candidates"]
        assert rows[lo]["n_true_found"] <= rows[hi]["n_true_found"]
        assert rows[lo]["recall"] <= rows[hi]["recall"]
    for r in rows.values():
        assert 0 <= r["precision"] <= 1 and 0 <= r["recall"] <= 1
        assert r["n_true_found"] <= min(r["n_candidates"], r["n_true_pairs"])
    # the measured S-curve: the loosest banding must reach full recall
    # on this corpus (its threshold ~0.35 sits below the truth J>=0.5)
    assert rows["b8r2"]["recall"] == 1.0


def test_auc_matches_bruteforce_pair_count(spark):
    """The histogram Mann-Whitney AUC equals the brute-force pairwise
    count (positives ranked above negatives, ties half) on the small
    corpus, and the confusion counts obey the curve identities."""
    rows = REG["eval_quality_auc"].fn(spark, SF_SMALL).collect()
    assert rows
    aucs = {r["auc"] for r in rows}
    assert len(aucs) == 1  # constant across rows
    auc = aucs.pop()

    # Reconstruct the per-cell histogram from the curve: pos/neg deltas
    # between consecutive thresholds (descending tp/fp cumulative).
    curve = sorted(rows, key=lambda r: -r["threshold"])
    hist = []
    prev_tp = prev_fp = 0
    for r in curve:
        hist.append((r["threshold"], r["tp"] - prev_tp, r["fp"] - prev_fp))
        prev_tp, prev_fp = r["tp"], r["fp"]
    p_tot, n_tot = prev_tp, prev_fp
    assert all(r["fn"] == p_tot - r["tp"] for r in curve)
    assert all(r["tn"] == n_tot - r["fp"] for r in curve)
    # tp/fp cumulative counts are monotone as the threshold drops
    assert all(a >= 0 and b >= 0 for _, a, b in hist)

    # Brute force 2U over the reconstructed per-cell counts: every
    # (pos, neg) pair contributes 2 if pos scored higher, 1 on a tie.
    two_u = 0
    for t_p, pos_p, _ in hist:
        for t_n, _, neg_n in hist:
            if t_p > t_n:
                two_u += 2 * pos_p * neg_n
            elif t_p == t_n:
                two_u += pos_p * neg_n
    # below 2^53 both engines' decimal->double + one division equal
    # Python's correctly-rounded int/int true division exactly
    assert auc == two_u / (2 * p_tot * n_tot)
    assert 0.0 <= auc <= 1.0


def test_pareto_front_matches_bruteforce_dominance(spark):
    """The bounded-histogram skyline equals the quadratic dominance
    definition on the small corpus, and every non-survivor is dominated
    by some survivor."""
    rows = REG["corpus_pareto_front"].fn(spark, SF_SMALL).collect()
    from snackfs_spark.functions import STOPWORD_PERMILLE_SPARK
    from snackfs_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    base = load_table(spark, SF_SMALL, "documents").select(
        "doc_id",
        F.expr(STOPWORD_PERMILLE_SPARK).alias("q"),
        "n_chars",
    ).collect()
    pts = [(r["doc_id"], r["q"], r["n_chars"]) for r in base]

    def dominated(p):
        return any(
            o[1] >= p[1] and o[2] >= p[2] and (o[1] > p[1] or o[2] > p[2])
            for o in pts
        )

    brute = {p[0] for p in pts if not dominated(p)}
    got = {r["doc_id"] for r in rows}
    assert got == brute
    sky = [(r["score_cell"], r["n_chars"]) for r in rows]
    for p in pts:
        if p[0] not in got:
            assert any(s[0] >= p[1] and s[1] >= p[2] for s in sky)


def test_frequent_pairs_downward_closure_and_bruteforce(spark):
    """A-priori invariants: pair support never exceeds either item
    support, every reported pair meets min-support, and the supports
    match a brute-force recount of the small fixture."""
    from itertools import combinations

    from snackfs_spark.operators.mining import BASKET_MINSUP
    from snackfs_spark.sources.tables import load_table

    rows = REG["basket_frequent_pairs"].fn(spark, SF_SMALL).collect()
    assert rows
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().collect()
    baskets: dict[int, set[int]] = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    item_support: dict[int, int] = {}
    pair_support: dict[tuple[int, int], int] = {}
    for items in baskets.values():
        for p in items:
            item_support[p] = item_support.get(p, 0) + 1
        for a, b in combinations(sorted(items), 2):
            pair_support[(a, b)] = pair_support.get((a, b), 0) + 1
    expect = {
        k: v
        for k, v in pair_support.items()
        if v >= BASKET_MINSUP
        and item_support[k[0]] >= BASKET_MINSUP
        and item_support[k[1]] >= BASKET_MINSUP
    }
    got = {(r["part_a"], r["part_b"]): r["pair_support"] for r in rows}
    assert got == expect
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["pair_support"] <= min(r["support_a"], r["support_b"])
        assert r["support_a"] == item_support[r["part_a"]]
        assert r["n_baskets"] == len(baskets)


def test_markov_transitions_conserve_and_normalize(spark):
    """Transition counts must sum to (n_events - n_users_with_events)
    — every event except each user's last contributes exactly one
    transition — and from_total must equal the sum of its row group."""
    from snackfs_spark.sources.tables import load_table

    rows = REG["events_markov_transitions"].fn(spark, SF_SMALL).collect()
    assert rows
    ev = load_table(spark, SF_SMALL, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in rows) == n_events - n_users
    by_from: dict[str, int] = {}
    for r in rows:
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0) + r["n"]
    for r in rows:
        assert r["from_total"] == by_from[r["from_type"]]


def test_cluster_agreement_matches_sklearn_free_bruteforce(spark):
    """Purity and Rand recomputed pairwise from the raw assignments on
    the small fixture must equal the contingency-margin derivation."""
    rows = REG["eval_cluster_agreement"].fn(spark, SF_SMALL).collect()
    assert rows
    purity = {r["purity"] for r in rows}.pop()
    rand = {r["rand_index"] for r in rows}.pop()
    pts = [
        (r["cluster"], r["label"])
        for r in rows
        for _ in range(r["n_ij"])
    ]
    n = len(pts)
    # purity brute force
    from collections import Counter

    by_cluster: dict[int, Counter] = {}
    for c, l in pts:
        by_cluster.setdefault(c, Counter())[l] += 1
    assert purity == sum(max(cnt.values()) for cnt in by_cluster.values()) / n
    # Rand brute force over all point pairs
    agree = 0
    for i in range(n):
        for j in range(i + 1, n):
            same_c = pts[i][0] == pts[j][0]
            same_l = pts[i][1] == pts[j][1]
            if same_c == same_l:
                agree += 1
    assert rand == agree / (n * (n - 1) // 2)


def test_retrieval_ranks_against_bruteforce(spark):
    """Relevance counts and the first-relevant rank recomputed from a
    driver-side brute-force BM25-free pass: every doc's term membership
    decides relevance; the reported counts must be consistent."""
    from snackfs_spark.operators.textstats import (
        BM25_TOP,
        EVAL_RETRIEVAL_QUERIES,
    )
    from snackfs_spark.sources.tables import load_table

    rows = {r["query_id"]: r for r in REG["eval_retrieval_ranks"].fn(spark, SF_SMALL).collect()}
    assert set(rows) == set(EVAL_RETRIEVAL_QUERIES)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    for qid, terms in EVAL_RETRIEVAL_QUERIES.items():
        rel = {
            d["doc_id"]
            for d in docs
            if all(t in d["text"].split(" ") for t in terms)
        }
        r = rows[qid]
        assert r["n_rel"] == len(rel)
        assert 0 <= r["rel_in_topk"] <= min(len(rel), BM25_TOP)
        if r["rel_in_topk"] > 0:
            assert 1 <= r["first_rel_rank"] <= BM25_TOP
        else:
            assert r["first_rel_rank"] is None


def test_phash_dedup_recovers_planted_duplicates(spark):
    """Every planted duplicate asset must pair with its original at
    hamming 0 (identical pixels -> identical hash -> a shared band ->
    exact recall), and no reported pair may exceed the threshold."""
    from snackfs_spark.functions import md5_bucket
    from snackfs_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        PHASH_PLANT_MOD,
        PHASH_PLANT_OFFSET,
    )
    from snackfs_spark.sources.tables import load_table

    rows = REG["multimodal_phash_dedup"].fn(spark, SF_SMALL).collect()
    assert rows
    pairs = {(r["asset_a"], r["asset_b"]): r["hamming"] for r in rows}
    assert all(a < b for a, b in pairs)
    assert all(0 <= h <= PHASH_MAX_HAMMING for h in pairs.values())
    planted = {
        r["doc_id"]
        for r in load_table(spark, SF_SMALL, "documents")
        .filter(md5_bucket(F.col("doc_id").cast("string"), PHASH_PLANT_MOD) == 0)
        .select("doc_id")
        .collect()
    }
    assert planted
    for doc in planted:
        assert pairs.get((doc, doc + PHASH_PLANT_OFFSET)) == 0


def test_jsonl_shards_are_gzip_and_sharded(spark):
    """The interchange layout contract: multiple .json.gz part files,
    each a valid gzip stream of newline-delimited JSON objects."""
    import glob
    import gzip
    import json as jsonlib

    from snackfs_spark.operators.content import jsonl_shards_for

    out = jsonl_shards_for(spark, SF_SMALL)
    parts = sorted(glob.glob(f"{out}/part-*.json.gz"))
    assert len(parts) > 1, parts
    with gzip.open(parts[0], "rt") as f:
        first = jsonlib.loads(f.readline())
    assert set(first) == {"doc_id", "text", "lang", "source", "n_chars"}


def test_repair_plan_accounts_for_every_lost_chunk(spark):
    """Positive fingerprints make a bucket's digests differ iff it lost
    at least one chunk, so the plan's missing totals must equal the
    injected loss exactly — no bucket silently skipped, none inflated."""
    from snackfs_spark.functions import md5_bucket
    from snackfs_spark.operators.fsops import REPAIR_LOSS_MOD
    from snackfs_spark.sources.fsmodel import content_df

    rows = REG["fs_repair_plan"].fn(spark, SF_SMALL).collect()
    assert rows
    lost = (
        content_df(spark, SF_SMALL)
        .filter(
            md5_bucket(
                F.concat(F.col("path"), F.lit("#"), F.col("sub_offset").cast("string")),
                REPAIR_LOSS_MOD,
            )
            == 7
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("length").alias("b"))
        .collect()[0]
    )
    assert sum(r["n_missing_chunks"] for r in rows) == lost["n"]
    assert sum(r["missing_bytes"] for r in rows) == lost["b"]
    for r in rows:
        assert 1 <= r["n_missing_chunks"] <= r["n_chunks"]


def test_bloom_prune_is_superset_and_fp_bounded(spark):
    """The bloom candidate set must contain every true match (losing a
    true positive would corrupt the exact result) and, at fixture scale
    where the bitmap is far from saturated, must not pass more than a
    few percent of non-matching orders."""
    from snackfs_spark.operators.runtime_filter import (
        bloom_bitmap,
        bloom_filter_candidates,
    )
    from snackfs_spark.sources.tables import load_table

    dim = (
        load_table(spark, SF_ORACLE, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") < 0))
        .select("c_custkey")
    )
    orders = load_table(spark, SF_ORACLE, "orders").select("o_custkey")
    bloom = bloom_bitmap(dim, "c_custkey")
    cand = bloom_filter_candidates(orders, "o_custkey", bloom)
    n_orders = orders.count()
    n_cand = cand.count()
    n_true = orders.join(dim, orders["o_custkey"] == dim["c_custkey"], "left_semi").count()
    assert n_true <= n_cand <= n_orders
    # fp among non-matching rows: with ~1.4e3 keys in 2^20 bits the
    # expected rate is ~0; allow 2% slack for hash clustering.
    assert (n_cand - n_true) <= 0.02 * max(n_orders - n_true, 1)


def test_bloom_bitmap_is_broadcastable(spark):
    """The bitmap stays one row of <= N_WORDS entries no matter the dim
    cardinality — the broadcast-size contract of the design."""
    from snackfs_spark.operators.runtime_filter import N_WORDS, bloom_bitmap
    from snackfs_spark.sources.tables import load_table

    dim = load_table(spark, SF_ORACLE, "customer").select("c_custkey")
    rows = bloom_bitmap(dim, "c_custkey").collect()
    assert len(rows) == 1
    assert len(rows[0]["bloom"]) <= N_WORDS


def test_sliding_distinct_matches_bruteforce_window(spark):
    """The islands+prefix-sum counts must equal a per-day brute-force
    recount over the raw events for every (type, day)."""
    import datetime

    got = {
        (r["event_type"], r["day"]): r["n_users"]
        for r in REG["win_sliding_distinct_users"].fn(spark, SF_ORACLE).collect()
    }
    from snackfs_spark.operators.windows import SLIDING_DISTINCT_DAYS
    from snackfs_spark.sources.tables import load_table

    ev = (
        load_table(spark, SF_ORACLE, "events")
        .select("event_type", F.to_date("ts").alias("day"), "user_id")
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append((r["day"], r["user_id"]))
    want = {}
    for t, rows in by_type.items():
        days = sorted({d for d, _ in rows})
        for e in days:
            lo = e - datetime.timedelta(days=SLIDING_DISTINCT_DAYS - 1)
            want[(t, e.isoformat())] = len({u for d, u in rows if lo <= d <= e})
    assert got == want


def test_pq_adc_compresses_and_ranks_sanely(spark):
    """PQ contract: every corpus vector encodes to exactly 8 codes in
    [0, 16); each query returns exactly TOP_K ranked rows with
    non-decreasing ADC distance; and ADC recall@10 vs the exact
    bruteforce top-10 is well above random (the lossy-but-useful bar)."""
    from snackfs_spark.operators.similarity import PQ_QUERIES, TOP_K

    pq = REG["ann_pq_adc"].fn(spark, SF_ORACLE).collect()
    by_q: dict[int, list] = {}
    for r in pq:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == PQ_QUERIES
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        assert len(rows) == TOP_K
        dists = [r["adc"] for r in rows]
        assert dists == sorted(dists)
    exact = REG["ann_bruteforce_topk"].fn(spark, SF_ORACLE).collect()
    exact_by_q: dict[int, set] = {}
    for r in exact:
        exact_by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    # recall@10 of the 32x-compressed representation: >= 0.2 overall
    # (random would be 10/500 = 0.02); hash-codebook PQ is lossy, the
    # bar is "far better than chance", not parity with exact.
    hits = sum(
        len({r["vec_id"] for r in rows} & exact_by_q[q]) for q, rows in by_q.items()
    )
    assert hits >= 0.2 * PQ_QUERIES * TOP_K


def test_csv_shards_are_uncompressed_quoted_and_headered(spark):
    """Layout contract of the CSV interchange: plain .csv part files
    (splittable — the point vs the gzip JSONL shards), a header row,
    and every text cell quoted (space delimiter forces it)."""
    import glob
    import os

    from snackfs_spark.operators.content import csv_shards_for

    out = csv_shards_for(spark, SF_ORACLE)
    parts = sorted(glob.glob(os.path.join(out, "part-*")))
    assert parts and all(p.endswith(".csv") for p in parts)
    with open(parts[0], encoding="utf-8") as fh:
        header = fh.readline().rstrip("\n")
        first = fh.readline()
    assert header.split(" ")[0].strip('"') == "doc_id"
    assert first.count('"') >= 2  # the text cell is quoted


def test_merge_upsert_conserves_rows_and_applies_actions(spark):
    """MERGE contract: |keep| + |update| + |delete| = |target|; every
    insert is a brand-new key; updates grow n_chars by exactly the
    ' rev2' suffix length against the pre-merge snapshot."""
    from snackfs_spark.operators.relational import (
        MERGE_DEL_HI,
        MERGE_INS_HI,
        MERGE_UPD_HI,
    )
    from snackfs_spark.functions import md5_bucket
    from snackfs_spark.sources.tables import load_table

    out = REG["corpus_merge_upsert"].fn(spark, SF_ORACLE).collect()
    by_action: dict[str, list] = {}
    for r in out:
        by_action.setdefault(r["action"], []).append(r)
    docs = load_table(spark, SF_ORACLE, "documents").withColumn(
        "bk", md5_bucket(F.col("doc_id").cast("string"), 100)
    )
    buckets = {r["doc_id"]: (r["bk"], r["n_chars"]) for r in docs.collect()}
    n_del = sum(1 for bk, _ in buckets.values() if MERGE_UPD_HI <= bk < MERGE_DEL_HI)
    n_ins = sum(1 for bk, _ in buckets.values() if MERGE_DEL_HI <= bk < MERGE_INS_HI)
    assert len(by_action.get("keep", [])) + len(by_action.get("update", [])) == (
        len(buckets) - n_del
    )
    assert len(by_action.get("insert", [])) == n_ins
    assert all(r["doc_id"] not in buckets for r in by_action.get("insert", []))
    for r in by_action.get("update", []):
        assert r["n_chars"] == buckets[r["doc_id"]][1] + len(" rev2")
    deleted = {d for d, (bk, _) in buckets.items() if MERGE_UPD_HI <= bk < MERGE_DEL_HI}
    assert not deleted & {r["doc_id"] for r in out}


def test_seasonal_profile_conserves_counts_and_bounds(spark):
    """Cell counts per type must sum to the type's event count, shares
    must sum to ~1e6 per type (integer-division remainder only), and
    the dow/hour lattice must stay in range."""
    from snackfs_spark.sources.tables import load_table

    out = REG["events_seasonal_profile"].fn(spark, SF_ORACLE).collect()
    totals = {
        r["event_type"]: r["cnt"]
        for r in load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    per_type_n: dict[str, int] = {}
    per_type_share: dict[str, int] = {}
    n_cells: dict[str, int] = {}
    for r in out:
        assert 0 <= r["dow"] <= 6 and 0 <= r["hour"] <= 23
        assert r["naive_abs_err"] >= 0
        per_type_n[r["event_type"]] = per_type_n.get(r["event_type"], 0) + r["n"]
        per_type_share[r["event_type"]] = (
            per_type_share.get(r["event_type"], 0) + r["share_ppm"]
        )
        n_cells[r["event_type"]] = n_cells.get(r["event_type"], 0) + 1
    assert per_type_n == totals
    for t, s in per_type_share.items():
        assert 1000000 - n_cells[t] <= s <= 1000000


def test_bfs_seed_and_frontier_invariants(spark):
    """Exactly BFS_SEEDS nodes at dist 0; every node at dist k > 0 has
    an in-edge from some node at dist k-1 (the BFS level property); no
    dist exceeds the hop budget."""
    from snackfs_spark.operators.graph import BFS_MAX_HOPS, BFS_SEEDS, _token_graph

    out = REG["graph_bfs_hops"].fn(spark, SF_ORACLE).collect()
    dist = {r["token"]: r["dist"] for r in out}
    assert sum(1 for d in dist.values() if d == 0) == BFS_SEEDS
    assert max(dist.values()) <= BFS_MAX_HOPS
    _, edges, _ = _token_graph(spark, SF_ORACLE)
    preds: dict[str, set] = {}
    for r in edges.collect():
        preds.setdefault(r["w2"], set()).add(r["w1"])
    for tok, d in dist.items():
        if d > 0:
            assert any(dist.get(p) == d - 1 for p in preds.get(tok, ()))


def test_erasure_layout_stripe_algebra(spark):
    """RS(4,2) invariants on every file row: stripe count is the
    ceiling, stored = data + parity, savings close the RF3 identity,
    and overhead_permille >= 1000 (parity never stores less than the
    data itself)."""
    from snackfs_spark.operators.interval_join import EC_K, EC_M

    for r in REG["fs_erasure_layout"].fn(spark, SF_ORACLE).collect():
        nb = r["n_blocks"]
        assert r["stripes"] == -(-nb // EC_K)
        assert r["parity_blocks"] == EC_M * r["stripes"]
        assert r["stored_ec"] == nb + r["parity_blocks"]
        assert r["stored_rf3"] == 3 * nb
        assert r["savings_blocks"] == r["stored_rf3"] - r["stored_ec"]
        assert r["overhead_permille"] >= 1000
        assert 1 <= r["distinct_hosts"] <= min(nb, 25)


def test_pps_sample_conserves_step_mass(spark):
    """Systematic-sampling conservation: within each stratum the pick
    multiplicities must sum to floor(total_chars / STEP) exactly, and
    any doc spanning a full step is always picked."""
    from snackfs_spark.operators.sampling import PPS_STEP
    from snackfs_spark.sources.tables import load_table

    out = REG["sample_systematic_pps"].fn(spark, SF_ORACLE).collect()
    picks_by_source: dict[str, int] = {}
    for r in out:
        picks_by_source[r["source"]] = picks_by_source.get(r["source"], 0) + r["n_picks"]
    totals = {
        r["source"]: r["tot"]
        for r in load_table(spark, SF_ORACLE, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("tot"))
        .collect()
    }
    assert picks_by_source == {
        s: tot // PPS_STEP for s, tot in totals.items() if tot // PPS_STEP >= 1
    }
    sampled = {(r["source"], r["doc_id"]) for r in out}
    big = (
        load_table(spark, SF_ORACLE, "documents")
        .filter(F.col("n_chars") >= PPS_STEP)
        .select("source", "doc_id")
        .collect()
    )
    assert all((r["source"], r["doc_id"]) in sampled for r in big)


def test_tf_cosine_matches_bruteforce_on_pairs(spark):
    """Recompute the tf-weighted cosine in Python for every returned
    pair from the raw text: num, and the 0.6 rational gate, must agree
    exactly; returned pairs must be a subset of the LSH candidates."""
    from collections import Counter

    from snackfs_spark.sources.tables import load_table

    out = REG["dedup_tf_cosine"].fn(spark, SF_ORACLE).collect()
    assert out, "fixture corpus has near-dup pairs"
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in REG["dedup_minhash_lsh"].fn(spark, SF_ORACLE).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_ORACLE, "documents").collect()
    }

    def tfvec(t: str) -> Counter:
        w = t.split(" ")
        return Counter(
            " ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 0))
        )

    for r in out:
        assert (r["doc_a"], r["doc_b"]) in cands
        va, vb = tfvec(texts[r["doc_a"]]), tfvec(texts[r["doc_b"]])
        num = sum(c * vb.get(s, 0) for s, c in va.items())
        na = sum(c * c for c in va.values())
        nb = sum(c * c for c in vb.values())
        assert num == r["num"]
        assert 25 * num * num >= 9 * na * nb  # the 0.6 gate held
        assert abs(r["cosine"] - num / (na * nb) ** 0.5) < 1e-12


def test_exact_stratified_split_proportions(spark):
    """Within every stratum the split sizes must hit the exact integer
    cut formula (no binomial slack — the whole point vs the hash
    split), and the assignment must be deterministic."""
    out = REG["split_exact_stratified"].fn(spark, SF_ORACLE).collect()
    strata: dict[tuple, list] = {}
    for r in out:
        strata.setdefault((r["lang"], r["source"]), []).append(r["split"])
    for (lang, source), splits in strata.items():
        n = len(splits)
        want_train = sum(1 for r in range(n) if 10 * r < 8 * n)
        want_val = sum(1 for r in range(n) if 8 * n <= 10 * r < 9 * n)
        got = {s: splits.count(s) for s in ("train", "val", "test")}
        assert got["train"] == want_train, (lang, source)
        assert got["val"] == want_val
        assert got["test"] == n - want_train - want_val


def test_collocation_lift_recount_and_order(spark):
    """The reported counts must equal a Python recount of unigrams and
    adjacent bigrams; lift_ppm must be the floor-div formula and the
    output ordered by (lift desc, pair)."""
    from collections import Counter

    from snackfs_spark.operators.textstats import COLLOC_MIN_COUNT, COLLOC_TOP
    from snackfs_spark.sources.tables import load_table

    out = REG["text_collocation_lift"].fn(spark, SF_ORACLE).collect()
    assert 0 < len(out) <= COLLOC_TOP
    uni: Counter = Counter()
    big: Counter = Counter()
    for r in load_table(spark, SF_ORACLE, "documents").collect():
        w = [t for t in r["text"].split(" ")]
        uni.update(t for t in w if t)
        big.update((a, b) for a, b in zip(w, w[1:]) if a and b)
    n_uni = sum(uni.values())
    keys = []
    for r in out:
        assert r["c_xy"] == big[(r["w1"], r["w2"])] >= COLLOC_MIN_COUNT
        assert r["c_x"] == uni[r["w1"]] and r["c_y"] == uni[r["w2"]]
        assert r["lift_ppm"] == (1000000 * r["c_xy"] * n_uni) // (r["c_x"] * r["c_y"])
        keys.append((-r["lift_ppm"], r["w1"], r["w2"]))
    assert keys == sorted(keys)


def test_containment_directions_and_bruteforce(spark):
    """Recompute containment from raw shingle sets for every returned
    direction; mutual pairs must appear twice (both directions), and
    the 0.8 rational gate must hold exactly."""
    from snackfs_spark.sources.tables import load_table

    out = REG["dedup_containment"].fn(spark, SF_ORACLE).collect()
    assert out
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_ORACLE, "documents").collect()
    }

    def shset(t: str) -> set:
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 0))}

    for r in out:
        sa, sb = shset(texts[r["contained_doc"]]), shset(texts[r["container_doc"]])
        inter = len(sa & sb)
        assert inter == r["inter"]
        assert len(sa) == r["n_contained"] and len(sb) == r["n_container"]
        assert 5 * inter >= 4 * len(sa)
        assert r["containment_permille"] == (1000 * inter) // len(sa)


def test_sliding_distinct_keeps_boundary_free_observed_days(spark):
    """Regression (code-review r5c): an observed day in the middle of a
    coverage island has no ±1 delta of its own and must still be
    reported — the prefix-sum axis carries observed days at net 0."""
    import datetime

    from snackfs_spark.operators.windows import sliding_distinct_counts

    d = datetime.date
    rows = [("click", d(2024, 1, 1), 7), ("click", d(2024, 1, 3), 7)]
    df = spark.createDataFrame(rows, "event_type string, day date, user_id bigint")
    out = sorted(
        (r["day"], r["n_users"]) for r in sliding_distinct_counts(df, 7).collect()
    )
    assert out == [("2024-01-01", 1), ("2024-01-03", 1)]


def test_seasonal_profile_handles_pre_epoch_days(spark):
    """Regression (code-review r5c): dow/wk banding must survive
    negative days-since-epoch (DESIGN.md rule 5) — check the portable
    formulas agree with Python floor semantics on negatives."""
    rows = spark.sql(
        "SELECT d, ((d % 7) + 7) % 7 AS dow,"
        " (d - (((d % 7) + 7) % 7)) div 7 AS wk"
        " FROM VALUES (-8), (-1), (0), (6), (13) AS t(d)"
    ).collect()
    for r in rows:
        assert r["dow"] == r["d"] % 7  # Python % floors
        assert r["wk"] == (r["d"] - r["d"] % 7) // 7
        assert 0 <= r["dow"] <= 6


def test_quorum_staleness_combinatorics(spark):
    """Recompute the injected staleness in Python per block: the C(s,R)
    numerators and denominators must match exactly, and the global
    replica-staleness rate must sit near the injected 10%."""
    import hashlib

    from snackfs_spark.operators.fsops import QUORUM_STALE_PCT
    from snackfs_spark.sources.fsmodel import blocks_df

    out = {r["path"]: r for r in REG["fs_quorum_staleness"].fn(spark, SF_ORACLE).collect()}
    blocks = blocks_df(spark, SF_ORACLE).select("path", "block_idx").collect()

    def stale(path: str, idx: int, r: int) -> bool:
        h = hashlib.md5(f"{path}#{idx}#{r}".encode()).hexdigest()
        return int(h[:15], 16) % 100 < QUORUM_STALE_PCT

    agg: dict[str, list] = {}
    for b in blocks:
        s = sum(stale(b["path"], b["block_idx"], r) for r in range(3))
        a = agg.setdefault(b["path"], [0, 0, 0, 0])  # n, s_sum, pairs, all3
        a[0] += 1
        a[1] += s
        a[2] += s * (s - 1) // 2
        a[3] += 1 if s == 3 else 0
    assert set(agg) == set(out)
    tot_s = tot_rep = 0
    for path, (n, s_sum, pairs, all3) in agg.items():
        r = out[path]
        assert (r["n_blocks"], r["stale_replicas"]) == (n, s_sum)
        assert r["r2_stale_num"] == pairs
        assert r["r3_stale_num"] == all3
        tot_s += s_sum
        tot_rep += 3 * n
    assert abs(tot_s / tot_rep - QUORUM_STALE_PCT / 100) < 0.02


def test_new_vs_returning_conservation(spark):
    """Per type: new_users sums to the type's distinct-user universe,
    returning is non-negative, cum_users is the running total of
    new_users, and the earliest day is all-new."""
    from snackfs_spark.sources.tables import load_table

    rows = REG["events_new_vs_returning"].fn(spark, SF_ORACLE).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    universe = {
        r["event_type"]: r["u"]
        for r in load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("u"))
        .collect()
    }
    for t, days in by_type.items():
        days.sort(key=lambda r: r["day"])
        assert sum(r["new_users"] for r in days) == universe[t]
        assert days[0].active == days[0].new_users  # first day is all-new
        cum = 0
        for r in days:
            assert r["returning"] == r["active"] - r["new_users"] >= 0
            cum += r["new_users"]
            assert r["cum_users"] == cum


def test_sequential_pairs_matches_raw_event_bruteforce(spark):
    """Validate the first(A) < last(B) reduction against the RAW
    definition — enumerate actual ordered event pairs (ts_a < ts_b,
    distinct types) per user, deliberately NOT the reduction itself, so
    a wrong reduction (ties, strict-vs-non-strict) would diverge here
    (code-review r5c flagged the previous recount as circular)."""
    from snackfs_spark.operators.mining import SEQPAIR_MIN_USERS
    from snackfs_spark.sources.tables import load_table

    ev = (
        load_table(spark, SF_ORACLE, "events")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    by_user: dict[int, list] = {}
    users = set()
    for r in ev:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_type"]))
        users.add(r["user_id"])
    counts: dict[tuple, int] = {}
    for evs in by_user.values():
        seen_pairs = {
            (ta, tb)
            for (tsa, ta) in evs
            for (tsb, tb) in evs
            if ta != tb and tsa < tsb
        }
        for p in seen_pairs:
            counts[p] = counts.get(p, 0) + 1
    want = {p: n for p, n in counts.items() if n >= SEQPAIR_MIN_USERS}
    out = REG["events_sequential_pairs"].fn(spark, SF_ORACLE).collect()
    got = {(r["type_a"], r["type_b"]): r["n_users"] for r in out}
    assert got == want
    for r in out:
        assert r["total_users"] == len(users)
        assert r["support_permille"] == (1000 * r["n_users"]) // len(users)


def test_l_diversity_recount_and_risk_flags(spark):
    """Python recount of per-(nation, segment) distinct acctbal bands;
    row totals must conserve the customer table and at_risk must flag
    exactly l < 3."""
    from snackfs_spark.operators.relational import (
        _ACCTBAL_BAND_SPARK,
        L_DIVERSITY_THRESHOLD,
    )
    from snackfs_spark.sources.tables import load_table

    cust = (
        load_table(spark, SF_ORACLE, "customer")
        .select(
            "c_nationkey", "c_mktsegment", F.expr(_ACCTBAL_BAND_SPARK).alias("band")
        )
        .collect()
    )
    classes: dict[tuple, set] = {}
    sizes: dict[tuple, int] = {}
    for r in cust:
        key = (r["c_nationkey"], r["c_mktsegment"])
        classes.setdefault(key, set()).add(r["band"])
        sizes[key] = sizes.get(key, 0) + 1
    want: dict[int, list] = {}
    for key, bands in classes.items():
        want.setdefault(len(bands), [0, 0])
        want[len(bands)][0] += 1
        want[len(bands)][1] += sizes[key]
    out = REG["privacy_l_diversity"].fn(spark, SF_ORACLE).collect()
    got = {r["l_distinct"]: [r["n_groups"], r["n_rows"]] for r in out}
    assert got == want
    for r in out:
        assert r["at_risk"] == (r["l_distinct"] < L_DIVERSITY_THRESHOLD)
    assert sum(r["n_rows"] for r in out) == len(cust)


def test_golden_record_survivorship_invariants(spark):
    """Cluster rows must conserve the corpus (sum members = |docs|),
    every cluster_id is its own minimum member, the golden n_chars is
    the member max, and lang_conflict fires iff n_langs > 1."""
    from snackfs_spark.operators.dedup import dedup_cluster_canonical
    from snackfs_spark.sources.tables import load_table

    golden = {r["cluster_id"]: r for r in REG["dedup_golden_record"].fn(spark, SF_ORACLE).collect()}
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_cluster_canonical(spark, SF_ORACLE).collect()
    }
    docs = {
        r["doc_id"]: r
        for r in load_table(spark, SF_ORACLE, "documents").collect()
    }
    assert sum(r["n_members"] for r in golden.values()) == len(docs)
    for cid, row in golden.items():
        members = [d for d, c in labels.items() if c == cid]
        assert min(members) == cid
        assert row["n_members"] == len(members)
        assert row["golden_n_chars"] == max(docs[d]["n_chars"] for d in members)
        langs = {docs[d]["lang"] for d in members}
        assert row["n_langs"] == len(langs)
        assert row["lang_conflict"] == (1 if len(langs) > 1 else 0)
        assert row["sources"] == ",".join(sorted({docs[d]["source"] for d in members}))
