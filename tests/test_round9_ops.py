"""Round-9 pins: the r8 ADVICE fixes (shared-relation memo bounds + locking,
pinned ANSI overflow semantics) and the COVERAGE.md table lint
(r8 VERDICT #3)."""

from __future__ import annotations

import re
import threading
from pathlib import Path

import pytest

from snackfs_spark import memo
from tests.conftest import stub_session

REPO = Path(__file__).resolve().parent.parent
DOC = REPO / "COVERAGE.md"
OPERATORS = REPO / "snackfs_spark" / "operators"
SOURCES = REPO / "snackfs_spark" / "sources"


# ------------------------------------------------------------ memo ----


_probe_builds: list[str] = []


@memo.shared
def _probe(spark, sf_dir):
    _probe_builds.append(sf_dir)
    return object()


_PROBE = memo.relation(f"{__name__}._probe")


def test_session_memo_bounds_and_evicts_lru():
    _PROBE.clear()
    s = stub_session("lru")
    keep = [_probe(s, f"sf{i}") for i in range(memo.MAXSIZE)]
    # touch sf0 so sf1 is the LRU victim
    assert _probe(s, "sf0") is keep[0]
    _probe(s, "extra")
    assert len(_PROBE) == memo.MAXSIZE
    # sf1 was evicted: a rebuild runs; sf0 survived
    assert _probe(s, "sf1") is not keep[1]
    assert _probe(s, "sf0") is keep[0]
    # one entry per (session, sf_dir): another session builds its own
    assert _probe(stub_session("other"), "sf0") is not keep[0]


def test_session_memo_single_build_under_race():
    """Concurrent first calls must build exactly once — the raw-dict
    version could build twice and leak the losing localCheckpoint
    (r8 ADVICE)."""
    _PROBE.clear()
    s = stub_session("race")
    del _probe_builds[:]
    barrier = threading.Barrier(8)
    results = []

    def worker():
        barrier.wait()
        results.append(_probe(s, "x"))

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert _probe_builds == ["x"], "racing first calls built the pipeline twice"
    assert len({id(r) for r in results}) == 1, "callers saw different pipelines"


def test_operator_memos_are_session_memos():
    """The shared-pipeline caches must stay on the bounded/locked
    implementation — a module-level dict regression reintroduces the
    unbounded-growth + race defects. Each relation must be registered
    under module.qualname and its module attribute must be the @shared
    wrapper, not the bare builder."""
    from snackfs_spark.operators import dedup, textstats
    from snackfs_spark.sources import bucketed, fsmodel

    for fn in (
        fsmodel.files_df,
        fsmodel.content_df,
        fsmodel.locks_df,
        fsmodel.ring_df,
        fsmodel.blocks_df,
        bucketed.build_bucketed_facts,
        bucketed.build_bucketed_baskets,
        dedup.candidate_edges_df,
        dedup.dedup_prefix_filter,
        dedup.cluster_labels_df,
        textstats._retrieval_rank_rel,
        textstats._hybrid_ranked,
        textstats.text_bigram_prob,
    ):
        name = f"{fn.__module__}.{fn.__qualname__}"
        assert isinstance(memo.relation(name), memo._Relation), name
        assert hasattr(fn, "__wrapped__"), f"{name} is not @shared"


def test_fs_views_rebuild_after_clear(spark):
    """The fs-model views are @shared relations: one value per (session,
    fixture), and a cleared relation builds again on the next call."""
    from snackfs_spark.sources import fsmodel
    from tests.conftest import SF_SMALL

    rel = memo.relation("snackfs_spark.sources.fsmodel.files_df")
    first = fsmodel.files_df(spark, SF_SMALL)
    assert fsmodel.files_df(spark, SF_SMALL) is first
    builds = rel.builds
    rel.clear()
    again = fsmodel.files_df(spark, SF_SMALL)
    assert rel.builds == builds + 1 and again is not first
    assert again.count() == first.count() > 0


def test_operators_define_no_session_keyed_cache():
    """Shared relations are memoized only through memo.shared, which
    owns the (applicationId, sf_dir) key, the LRU bound and the lock. An
    operator or source module that reads applicationId is hand-rolling a
    session cache again — the unbounded-growth + first-population-race
    defects (r8 ADVICE) the decorator exists to prevent."""
    import ast

    modules = sorted(OPERATORS.glob("*.py")) + sorted(SOURCES.glob("*.py"))
    assert len(modules) > 15, (OPERATORS, SOURCES)
    offenders = [
        f"{path.name}:{node.lineno}"
        for path in modules
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "applicationId"
    ]
    assert not offenders, f"session-keyed cache outside memo.py: {offenders}"


# ------------------------------------------------------------ ANSI ----


def test_session_pins_ansi_mode(spark):
    """DESIGN.md rule 7: the exact-rational overflow guards assume ANSI
    semantics (overflow RAISES). session.py pins the config explicitly
    so a Spark default flip can't silently change the failure path."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    src = (REPO / "snackfs_spark" / "session.py").read_text()
    assert '"spark.sql.ansi.enabled", "true"' in src


def test_decimal_overflow_raises_loudly(spark):
    """The primary rule-7 guard in action: decimal(38,0) overflow must
    raise (ANSI), never silently null — a silent NULL would drop rows
    through filters and surface as an oracle hash mismatch instead of
    an error."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        (
            F.lit("9" * 38).cast("decimal(38,0)")
            * F.lit("9" * 38).cast("decimal(38,0)")
        ).alias("x")
    )
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE|overflow"):
        df.collect()


# ----------------------------------------------------- COVERAGE lint ----


def test_coverage_tables_have_no_blank_row_gaps():
    """r8 VERDICT #3: blank lines between adjacent |-rows split a
    markdown table into fragments under strict renderers. COVERAGE.md
    must render each table contiguously."""
    lines = DOC.read_text().split("\n")
    bad = [
        i + 1
        for i in range(1, len(lines) - 1)
        if lines[i].strip() == ""
        and lines[i - 1].lstrip().startswith("|")
        and lines[i + 1].lstrip().startswith("|")
    ]
    assert not bad, f"blank lines inside COVERAGE.md tables at lines {bad}"


def test_coverage_table_rows_are_well_formed():
    """Every table row keeps its 3-column shape (| a | b | c |) — a
    truncated row is usually a botched hand edit."""
    for i, ln in enumerate(DOC.read_text().split("\n"), start=1):
        s = ln.strip()
        if s.startswith("|") and not re.match(r"^\|[\s:-]+\|", s):
            assert s.endswith("|"), f"COVERAGE.md line {i} is an unterminated row"


# ------------------------------------------------- scale sweep memory ----


def test_scale_stress_driver_mem_mapping():
    """r8 VERDICT #6: the sweep script must derive a driver heap from
    its largest fixture so a 100x sweep can't half-run at the 8g
    default (local[N] = driver + executors in one JVM)."""
    import sys

    tools = str(REPO / "tools")
    sys.path.insert(0, tools)
    try:
        from scale_stress import driver_mem_for
    finally:
        sys.path.remove(tools)
    assert driver_mem_for(0.1) == "8g"
    assert driver_mem_for(1) == "8g"
    assert driver_mem_for(10) == "48g"
    assert driver_mem_for(100) == "96g"


# -------------------------------------------- bucketed basket mining ----


def test_bucketed_basket_join_eliminates_shuffle(spark):
    """r8 VERDICT #5: the A-priori pair self-join over the bucketed
    basket table must consume co-located bucketed scans — no exchange
    on the basket key; the only exchanges left are the pair-count
    aggregate and downstream small-relation plumbing."""
    from tests.conftest import SF_ORACLE

    from snackfs_spark.sources import bucketed

    bucketed.build_bucketed_baskets(spark, SF_ORACLE)
    df = bucketed.association_rules_bucketed(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    exchanges = {
        ln.strip()
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    }
    on_basket_key = [ln for ln in exchanges if "l_orderkey" in ln]
    assert not on_basket_key, f"self-join still shuffles the basket key: {plan}"


def test_bucketed_basket_rules_match_shuffled(spark):
    """The bucketed variant is a LAYOUT change, not a semantics change:
    row-for-row equal to the registered mining_association_rules."""
    from tests.conftest import SF_ORACLE

    from snackfs_spark.registry import load_all
    from snackfs_spark.sources import bucketed

    bucketed.build_bucketed_baskets(spark, SF_ORACLE)
    a = load_all()["mining_association_rules"].fn(spark, SF_ORACLE)
    b = bucketed.association_rules_bucketed(spark, SF_ORACLE)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


# ---------------------------------------------- round-9 new operators ----


def test_chi2_keywords_recount(spark):
    """Every emitted chi2_micro replayed from raw pandas contingency
    counts; per-class rows must be exactly the top-10 positive
    associations on the integer lattice."""
    import pandas as pd

    from snackfs_spark.operators.textstats import CHI2_MIN_DF, CHI2_TOP_PER_CLASS
    from snackfs_spark.registry import load_all
    from tests.conftest import SF_ORACLE

    rows = load_all()["text_chi2_keywords"].fn(spark, SF_ORACLE).collect()
    d = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    n_docs = len(d)
    n_c = d.groupby("source").size().to_dict()
    pres: dict[tuple[str, str], int] = {}
    df_all: dict[str, int] = {}
    for _, row in d.iterrows():
        toks = {t for t in row.text.split(" ") if t}
        for t in toks:
            df_all[t] = df_all.get(t, 0) + 1
            k = (row.source, t)
            pres[k] = pres.get(k, 0) + 1
    # replay every emitted score and rank
    best: dict[str, list[tuple[int, str]]] = {}
    for (src, tok), n11 in pres.items():
        da = df_all[tok]
        if da < CHI2_MIN_DF or da >= n_docs:
            continue
        n10 = n_c[src] - n11
        n01 = da - n11
        n00 = n_docs - n_c[src] - n01
        det = n11 * n00 - n10 * n01
        if det <= 0:
            continue
        chi2 = (1_000_000 * n_docs * det * det) // (
            n_c[src] * (n_docs - n_c[src]) * da * (n_docs - da)
        )
        best.setdefault(src, []).append((chi2, tok))
    for r in rows:
        da = df_all[r["token"]]
        n11 = pres[(r["source"], r["token"])]
        assert r["df_in_class"] == n11 and r["df_all"] == da
        n10 = n_c[r["source"]] - n11
        n01 = da - n11
        n00 = n_docs - n_c[r["source"]] - n01
        det = n11 * n00 - n10 * n01
        assert det > 0
        assert r["chi2_micro"] == (1_000_000 * n_docs * det * det) // (
            n_c[r["source"]] * (n_docs - n_c[r["source"]]) * da * (n_docs - da)
        )
    # per-class membership = the true top-k under (chi2 desc, token asc)
    by_class: dict[str, list] = {}
    for r in rows:
        by_class.setdefault(r["source"], []).append(r)
    for src, rs in by_class.items():
        want = sorted(best[src], key=lambda x: (-x[0], x[1]))[:CHI2_TOP_PER_CLASS]
        got = sorted(
            [(r["chi2_micro"], r["token"]) for r in rs], key=lambda x: (-x[0], x[1])
        )
        assert got == want


def test_rank_rbo_recount(spark):
    """Exact-Fraction replay of the RBO curve (p = 1/2) from the two
    rankings; the curve must be monotone nondecreasing, within
    [0, 1e6], and equal the dyadic-lattice ppm at every depth."""
    from fractions import Fraction

    from snackfs_spark.operators.textstats import RBO_K
    from snackfs_spark.registry import load_all
    from tests.conftest import SF_ORACLE

    reg = load_all()
    hybrid = reg["hybrid_search_topk"].fn(spark, SF_ORACLE).collect()
    r1 = [
        r["doc_id"]
        for r in sorted(hybrid, key=lambda r: (-r["score_lattice"], r["doc_id"]))
    ]
    r2 = [
        r["doc_id"] for r in sorted(hybrid, key=lambda r: (-r["cosine"], r["doc_id"]))
    ]
    rows = sorted(
        reg["eval_rank_rbo"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["depth"],
    )
    assert [r["depth"] for r in rows] == list(range(1, RBO_K + 1))
    cum = Fraction(0)
    prev = -1
    for r in rows:
        d = r["depth"]
        a_d = len(set(r1[:d]) & set(r2[:d]))
        assert r["overlap"] == a_d
        cum += Fraction(1, 2**d) * Fraction(a_d, d)
        want_ppm = (1_000_000 * cum.numerator) // cum.denominator
        assert r["rbo_cum_ppm"] == want_ppm
        assert 0 <= r["rbo_cum_ppm"] <= 1_000_000
        assert r["rbo_cum_ppm"] >= prev
        prev = r["rbo_cum_ppm"]


def test_yule_k_recount(spark):
    """Yule's K and the hapax/dis counts replayed with collections
    .Counter per source."""
    from collections import Counter

    import pandas as pd

    from snackfs_spark.registry import load_all
    from tests.conftest import SF_ORACLE

    rows = {
        r["source"]: r
        for r in load_all()["text_yule_k"].fn(spark, SF_ORACLE).collect()
    }
    d = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    for src, grp in d.groupby("source"):
        c = Counter()
        for text in grp.text:
            c.update(t for t in text.split(" ") if t)
        n = sum(c.values())
        s2 = sum(m * m for m in c.values())
        r = rows[str(src)]
        assert r["n_tokens"] == n
        assert r["n_types"] == len(c)
        assert r["hapax"] == sum(1 for m in c.values() if m == 1)
        assert r["dis_legomena"] == sum(1 for m in c.values() if m == 2)
        assert r["yule_k_milli"] == (10_000_000 * (s2 - n)) // (n * n)


def test_kendall_recount(spark):
    """Concordant/discordant pairs replayed in python over the hybrid
    ranking; strict ranks mean C + D = C(n,2), and tau matches the
    truncating-ppm formula (sign-symmetric per DESIGN.md rule 5)."""
    from snackfs_spark.registry import load_all
    from tests.conftest import SF_ORACLE

    reg = load_all()
    hybrid = reg["hybrid_search_topk"].fn(spark, SF_ORACLE).collect()
    r1 = {
        r["doc_id"]: i
        for i, r in enumerate(
            sorted(hybrid, key=lambda r: (-r["score_lattice"], r["doc_id"]))
        )
    }
    r2 = {
        r["doc_id"]: i
        for i, r in enumerate(
            sorted(hybrid, key=lambda r: (-r["cosine"], r["doc_id"]))
        )
    }
    docs = list(r1)
    c = d = 0
    for i, x in enumerate(docs):
        for y in docs[i + 1 :]:
            s = (r1[x] - r1[y]) * (r2[x] - r2[y])
            c += s > 0
            d += s < 0
    (row,) = reg["eval_rank_kendall"].fn(spark, SF_ORACLE).collect()
    n = len(docs)
    assert row["n_pairs"] == n * (n - 1) // 2 == c + d
    assert (row["concordant"], row["discordant"]) == (c, d)
    num = 1_000_000 * (c - d)
    want = num // row["n_pairs"] if num >= 0 else -((-num) // row["n_pairs"])
    assert row["tau_ppm"] == want
    assert -1_000_000 <= row["tau_ppm"] <= 1_000_000


def test_kfold_balance_and_checksum(spark):
    """Every stratum's fold sizes are within 1 of each other (the
    exactness hash-mod can't give), all K folds appear, and the
    doc_id checksums partition the stratum's total."""
    import pandas as pd

    from snackfs_spark.operators.sampling import KFOLD_K
    from snackfs_spark.registry import load_all
    from tests.conftest import SF_ORACLE

    rows = load_all()["split_kfold_assignment"].fn(spark, SF_ORACLE).collect()
    d = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, grp in d.groupby("source"):
        rs = by_src[str(src)]
        assert len(rs) == min(KFOLD_K, len(grp))
        sizes = [r["n_docs"] for r in rs]
        assert max(sizes) - min(sizes) <= 1, (src, sizes)
        assert sum(sizes) == len(grp)
        assert sum(r["doc_id_checksum"] for r in rs) == int(grp.doc_id.sum())
        assert sum(r["sum_chars"] for r in rs) == int(grp.n_chars.sum())


def test_emd_recount_and_metric_properties(spark):
    """EMD replayed in python from raw histograms; symmetry-free (a<b
    canonical), nonnegative, zero iff identical histograms, and the
    triangle inequality holds on the exact rationals for all source
    triples."""
    from fractions import Fraction
    from itertools import combinations

    import pandas as pd

    from snackfs_spark.operators.sampling import EMD_BIN_WIDTH, EMD_MAX_BIN
    from snackfs_spark.registry import load_all
    from tests.conftest import SF_ORACLE

    rows = load_all()["source_drift_emd"].fn(spark, SF_ORACLE).collect()
    d = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    d["bin"] = (d.n_chars // EMD_BIN_WIDTH).clip(upper=EMD_MAX_BIN)
    cdfs: dict[str, list[Fraction]] = {}
    for src, grp in d.groupby("source"):
        counts = grp.bin.value_counts()
        n = len(grp)
        cum = 0
        cdf = []
        for k in range(EMD_MAX_BIN + 1):
            cum += int(counts.get(k, 0))
            cdf.append(Fraction(cum, n))
        cdfs[str(src)] = cdf

    def emd(x: str, y: str) -> Fraction:
        return sum(abs(p - q) for p, q in zip(cdfs[x], cdfs[y]))

    seen = set()
    for r in rows:
        a, b = r["source_a"], r["source_b"]
        assert a < b
        seen.add((a, b))
        want = emd(a, b)
        assert Fraction(r["emd_num"], r["emd_den"]) == want
        assert r["emd_milli_bins"] == (1000 * r["emd_num"]) // r["emd_den"]
        assert r["emd_num"] >= 0
    assert seen == {(a, b) for a, b in combinations(sorted(cdfs), 2)}
    # triangle inequality on the exact rationals
    srcs = sorted(cdfs)
    for x, y, z in combinations(srcs, 3):
        assert emd(x, z) <= emd(x, y) + emd(y, z)


def test_preference_pairs_properties(spark):
    """DPO-pair invariants: every doc in at most one pair, chosen
    strictly outranks rejected, pair_rank i matches the i-th best vs
    i-th worst construction replayed in python (under the banded total
    order (q DESC, md5-bucket, md5, doc_id) — the bottom ranking is the
    exact reverse, so the i-th worst is rank n+1-i), and the exact pair
    set must match the replay."""
    import hashlib

    import pandas as pd

    from snackfs_spark.functions import STOPWORDS
    from snackfs_spark.operators.sampling import PREF_BUCKETS
    from snackfs_spark.registry import load_all
    from tests.conftest import SF_ORACLE

    rows = load_all()["train_preference_pairs"].fn(spark, SF_ORACLE).collect()
    used = [r["chosen_doc_id"] for r in rows] + [r["rejected_doc_id"] for r in rows]
    assert len(used) == len(set(used)), "a doc appears in two pairs"
    d = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    stop = set(STOPWORDS)

    def q(text: str) -> int:
        toks = text.split(" ")
        return (1000 * sum(t in stop for t in toks)) // len(toks)

    def fp(doc_id) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)

    d["q"] = d.text.map(q)
    want = set()
    for src, grp in d.groupby("source"):
        top = sorted(
            grp.itertuples(),
            key=lambda r: (
                -r.q,
                fp(r.doc_id) % PREF_BUCKETS,
                fp(r.doc_id),
                r.doc_id,
            ),
        )
        n = len(top)
        for i in range(n // 2):
            worst = top[n - 1 - i]  # reverse order: rank n+1-(i+1) from top
            if top[i].q > worst.q:
                want.add((str(src), i + 1, top[i].doc_id, worst.doc_id,
                          top[i].q, worst.q))
    got = {
        (r["source"], r["pair_rank"], r["chosen_doc_id"], r["rejected_doc_id"],
         r["chosen_permille"], r["rejected_permille"])
        for r in rows
    }
    assert got == want
    for r in rows:
        assert r["margin_permille"] == r["chosen_permille"] - r["rejected_permille"] > 0


def test_brier_decomposition_identity(spark):
    """Murphy identity replayed with exact Fractions from the bins:
    rel - res + unc == the BINNED Brier; the emitted ppm values equal
    the documented floor-lattice forms; and the raw per-doc Brier
    matches its single-denominator numerator."""
    from fractions import Fraction

    from snackfs_spark.operators.textstats import _reliability_bins
    from snackfs_spark.registry import load_all
    from tests.conftest import SF_ORACLE

    (row,) = load_all()["eval_brier_decomposition"].fn(spark, SF_ORACLE).collect()
    bins = _reliability_bins(spark, SF_ORACLE).collect()
    nt = sum(b["n"] for b in bins)
    pt = sum(b["pos"] for b in bins)
    assert (row["n_total"], row["pos_total"], row["n_bins"]) == (
        nt,
        pt,
        len(bins),
    )
    # exact rational decomposition
    rel = sum(
        Fraction(b["n"])
        * (Fraction(b["sum_score"], 1000 * b["n"]) - Fraction(b["pos"], b["n"]))
        ** 2
        for b in bins
    ) / nt
    res = sum(
        Fraction(b["n"])
        * (Fraction(b["pos"], b["n"]) - Fraction(pt, nt)) ** 2
        for b in bins
    ) / nt
    unc = Fraction(pt, nt) * (1 - Fraction(pt, nt))
    binned_brier = (
        sum(
            sum(
                (Fraction(b["sum_score"], 1000 * b["n"]) - lab) ** 2 * cnt
                for lab, cnt in ((1, b["pos"]), (0, b["n"] - b["pos"]))
            )
            for b in bins
        )
        / nt
    )
    assert rel - res + unc == binned_brier  # the Murphy identity, exact
    # emitted floor-lattice forms
    rel_sum = sum(
        (1_000_000 * (1000 * b["pos"] - b["sum_score"]) ** 2) // b["n"]
        for b in bins
    )
    res_sum = sum(
        (1_000_000 * (b["pos"] * nt - pt * b["n"]) ** 2) // b["n"] for b in bins
    )
    assert row["rel_ppm"] == rel_sum // (1_000_000 * nt)
    assert row["res_ppm"] == res_sum // (nt**3)
    assert row["unc_ppm"] == (1_000_000 * pt * (nt - pt)) // (nt * nt)
    # raw per-doc Brier from the extended bin moments
    ss2 = sum(b["sum_score2"] for b in bins)
    ssl = sum(b["sum_score_label"] for b in bins)
    assert row["brier_ppm"] == (ss2 - 2000 * ssl + 1_000_000 * pt) // nt
    # lattice values stay within a ppm of the exact rationals
    assert abs(row["rel_ppm"] - 1_000_000 * rel) <= 1
    assert abs(row["res_ppm"] - 1_000_000 * res) <= 1
    assert abs(row["unc_ppm"] - 1_000_000 * unc) <= 1
