"""Round-11 additions: exact pass@k estimation and GRPO group-relative
advantage — python-bigint replays, estimator-property pins, and plan
shapes (the oracle hash gate lives in test_correctness.py like every
registered query)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from snackfs_spark.plans import formatted_plan
from snackfs_spark.registry import load_all
from tests.conftest import SF_ORACLE


def test_pass_at_k_python_replay(spark):
    """Per task: n/c counts from the raw parquet, pass@1 and pass@k
    recomputed with math.comb on python bigints — the falling-factorial
    lattice must agree exactly, including the n-c < k tasks where the
    estimator is exactly 1 (the zero-factor property, no branch)."""
    from snackfs_spark.operators.sampling import PASS_AT_K

    rows = load_all()["eval_pass_at_k"].fn(spark, SF_ORACLE).collect()
    ev = pd.read_parquet(f"{SF_ORACLE}/events.parquet")
    g = ev.groupby("user_id").agg(
        n=("event_id", "size"),
        c=("event_type", lambda s: int((s == "purchase").sum())),
    )
    want = {}
    for task, r in g.iterrows():
        n, c = int(r["n"]), int(r["c"])
        if n < PASS_AT_K:
            continue
        fail = math.comb(n - c, PASS_AT_K) * 1_000_000 // math.comb(n, PASS_AT_K)
        want[task] = (n, c, 1_000_000 * c // n, 1_000_000 - fail)
    got = {
        r["task_id"]: (
            r["n_samples"], r["n_correct"], r["pass1_ppm"], r["pass_at_k_ppm"]
        )
        for r in rows
    }
    # floor(1e6*(1 - num/den)) == 1e6 - ceil(1e6*num/den); equal to the
    # subtractive form only when the division is exact — recompute the
    # exact floor instead of trusting the identity
    for task, (n, c, p1, _) in want.items():
        fden = math.comb(n, PASS_AT_K)
        fnum = math.comb(n - c, PASS_AT_K)
        want[task] = (n, c, p1, 1_000_000 * (fden - fnum) // fden)
    assert got == want
    assert len(got) > 50  # the sf0.01 fixture keeps >= 50 eligible tasks
    # estimator properties: c=0 -> some pass@k == 0 task OR all c>0;
    # pass@k >= pass@1 always (more draws can only help)
    for task, (n, c, p1, pk) in want.items():
        assert pk >= p1, (task, p1, pk)
        if n - c < 5:
            assert pk == 1_000_000


def test_pass_at_k_single_scan_plan(spark):
    """One scan, one task-keyed partial aggregate, pure projection
    algebra after — no join, no window, no second exchange."""
    df = load_all()["eval_pass_at_k"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # one scan = one file-index detail block (the operator name appears
    # twice per scan: tree header + detail section)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("+- Exchange") == 1, plan  # tree view: one shuffle


def test_grpo_advantage_python_replay(spark):
    """Per event: adv_num, the exact integer sqrt of the n^2-scaled
    population variance, and the sign-split milli readout recomputed in
    python bigints (math.isqrt) from the raw parquet."""
    from snackfs_spark.operators.sampling import GRPO_MIN_GROUP

    rows = load_all()["train_grpo_advantage"].fn(spark, SF_ORACLE).collect()
    ev = pd.read_parquet(f"{SF_ORACLE}/events.parquet")
    ev["r"] = (ev["value"] * 100).round().astype(int)
    want = {}
    for uid, grp in ev.groupby("user_id"):
        n = len(grp)
        if n < GRPO_MIN_GROUP:
            continue
        s1 = int(grp["r"].sum())
        s2 = int((grp["r"].astype(object) ** 2).sum())
        var_num = n * s2 - s1 * s1
        sq = math.isqrt(var_num)
        for _, e in grp.iterrows():
            adv = n * int(e["r"]) - s1
            milli = 0 if var_num == 0 else (
                (-1 if adv < 0 else 1) * (1000 * abs(adv) // sq)
            )
            want[int(e["event_id"])] = (uid, int(e["r"]), adv, sq, milli)
    got = {
        r["event_id"]: (
            r["group_id"], r["reward_centi"], r["adv_num_centi"],
            r["group_sd_floor_centi"], r["adv_milli"],
        )
        for r in rows
    }
    assert got == want
    # whitening property on the lattice: per group, sum(adv_num) == 0
    sums: dict[int, int] = {}
    for _, (uid, _r, adv, _s, _m) in want.items():
        sums[uid] = sums.get(uid, 0) + adv
    assert set(sums.values()) == {0}
    # both signs occur (non-degenerate fixture)
    assert any(m < 0 for *_x, m in want.values())
    assert any(m > 0 for *_x, m in want.values())


def test_grpo_isqrt_correction_and_guard(spark):
    """The float isqrt seed is corrected by +-1 and the exactness check
    raises loudly rather than emitting a wrong floor: perfect squares,
    square-minus-one and square-plus-one must all floor exactly."""
    cases = [(0,), (1,), (2,), (3,), (4,), (2**40,), (2**40 - 1,), (2**40 + 1,),
             (999_999_999_999_999_999,)]
    df = spark.createDataFrame(cases, "x long").withColumns(
        {
            "s0": F.expr(
                "CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS DECIMAL(38,0))"
            ),
        }
    ).withColumn(
        "sq",
        F.expr(
            "s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)"
            " - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END)"
        ),
    )
    got = {r["x"]: int(r["sq"]) for r in df.collect()}
    assert got == {x: math.isqrt(x) for (x,) in cases}


def test_grpo_group_keyed_join_plan(spark):
    """The sample relation joins the group aggregate on the aggregate's
    own shuffle key — equi-join only, no cartesian/nested-loop shapes,
    and the scan prunes to the 3 reward columns."""
    df = load_all()["train_grpo_advantage"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "struct<event_id:bigint,user_id:bigint,value:double>" in plan, plan


def test_grpo_zero_variance_group_emits_zero(spark, tmp_path):
    """A constant-reward group has var_num = 0 and must emit adv_milli
    = 0 for every sample (the GRPO degenerate-group convention), not a
    divide-by-zero."""
    import duckdb

    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(["2024-01-01"] * 4),
            "user_id": [7, 7, 8, 8],
            "event_type": ["click"] * 4,
            "value": [2.5, 2.5, 1.0, 3.0],
            "props": [""] * 4,
        }
    )
    fixture = tmp_path / "zv"
    fixture.mkdir()
    ev.to_parquet(fixture / "events.parquet")
    q = load_all()["train_grpo_advantage"]
    got = {
        r["event_id"]: (r["adv_milli"], r["group_sd_floor_centi"])
        for r in q.fn(spark, str(fixture)).collect()
    }
    assert got[1] == (0, 0) and got[2] == (0, 0)
    # group 8: r = 100, 300; var_num = 2*(100^2+300^2) - 400^2 = 40000
    assert got[3] == (-1000, 200) and got[4] == (1000, 200)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{fixture}/events.parquet')"
    )
    odf = con.execute(q.oracle).fetchdf()
    assert {
        int(r["event_id"]): (int(r["adv_milli"]), int(r["group_sd_floor_centi"]))
        for _, r in odf.iterrows()
    } == got


def test_best_of_n_python_replay(spark):
    """Per task: E[max of random k-subset] recomputed with math.comb on
    python rationals (exact floor at centi scale) from the raw parquet;
    the curve must be non-decreasing in k and best_of_n == max score
    when k == n."""
    from snackfs_spark.operators.sampling import BEST_OF_KS

    rows = load_all()["eval_best_of_n_curve"].fn(spark, SF_ORACLE).collect()
    ev = pd.read_parquet(f"{SF_ORACLE}/events.parquet")
    ev["s"] = (ev["value"] * 100).round().astype(int)
    want = {}
    for uid, grp in ev.groupby("user_id"):
        ss = sorted(int(x) for x in grp["s"])
        n = len(ss)
        vals = [n]
        for k in BEST_OF_KS:
            if n < k:
                vals.append(None)
                continue
            num = sum(s * math.comb(i, k - 1) for i, s in enumerate(ss))
            vals.append(num // math.comb(n, k))
        want[uid] = tuple(vals)
    got = {
        r["task_id"]: (
            r["n_samples"],
            *(r[f"best_of_{k}_centi"] for k in BEST_OF_KS),
        )
        for r in rows
    }
    assert got == want
    for uid, (n, *curve) in want.items():
        present = [c for c in curve if c is not None]
        assert present == sorted(present), (uid, curve)  # non-decreasing
        # best_of_1 is the floor-mean
        ss = sorted(int(x) for x in ev[ev.user_id == uid]["s"])
        assert curve[0] == sum(ss) // len(ss)


def test_best_of_n_no_corpus_sort_plan(spark):
    """The ranking window partitions per task (never a global sort) and
    the aggregate shuffles once on the same key."""
    df = load_all()["eval_best_of_n_curve"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "Location: InMemoryFileIndex" in plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    for l in plan.splitlines():
        if "windowspecdefinition" in l:
            assert "task_id" in l, l
    assert "Join" not in plan, plan


def test_source_tournament_python_replay(spark):
    """Pairwise win2 counts and Copeland scores recomputed from the raw
    parquet by brute-force doc-pair comparison (the quadratic oracle
    the lattice collapse replaces) — exact equality, plus the
    antisymmetry identity win2(a,b) + win2(b,a) == 2*|a|*|b|."""
    from snackfs_spark.functions import STOPWORD_PERMILLE_SQL
    import duckdb

    rows = load_all()["source_quality_tournament"].fn(spark, SF_ORACLE).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    qs = con.execute(
        f"SELECT source, CAST({STOPWORD_PERMILLE_SQL} AS BIGINT) FROM documents"
    ).fetchall()
    by_src: dict[str, list[int]] = {}
    for src, q in qs:
        by_src.setdefault(src, []).append(int(q))
    want = {}
    for a, qa in by_src.items():
        for b, qb in by_src.items():
            if a == b:
                continue
            win2 = sum(
                2 if x > y else (1 if x == y else 0) for x in qa for y in qb
            )
            comp = len(qa) * len(qb)
            want[(a, b)] = (comp, win2, 1000 * win2 // (2 * comp))
    cope = {}
    for (a, b), (comp, win2, _) in want.items():
        cope[a] = cope.get(a, 0) + (1 if win2 > comp else -1 if win2 < comp else 0)
    got = {
        (r["challenger"], r["opponent"]): (
            r["comparisons"], r["win2"], r["win_permille"], r["copeland"],
        )
        for r in rows
    }
    assert got == {k: (*v, cope[k[0]]) for k, v in want.items()}
    for (a, b), (comp, win2, _) in want.items():
        assert win2 + want[(b, a)][1] == 2 * comp


def test_source_tournament_bounded_lattice_plan(spark):
    """No doc-pair shape anywhere: ONE corpus scan feeds the
    checkpointed (source, q) histogram; the grid, CDF windows and pair
    join run on the bounded lattice (the range(1001) generator is the
    only other leaf)."""
    df = load_all()["source_quality_tournament"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert plan.count("Location: InMemoryFileIndex") == 0, plan  # checkpointed
    assert "CartesianProduct" not in plan, plan
    rdd_lines = [
        l for l in plan.splitlines()
        if "MapPartitionsRDD[" in l and "localCheckpoint" in l
    ]
    # histogram checkpoint read by grid-left-join side, the a-side and
    # the distinct-sources builder: all the SAME rdd
    assert len({l.split("MapPartitionsRDD[")[1].split("]")[0] for l in rdd_lines}) == 1, plan


def test_matryoshka_recall_python_replay(spark):
    """numpy replay: per query and prefix length, rank by prefix-cosine
    (ties to smallest vec_id) and count overlap with the full-dim
    top-k; full-dim recall must be exactly 1000 permille and recall
    must be sane (0..1000) with at least one prefix below full."""
    import numpy as np

    from snackfs_spark.operators.similarity import (
        MATRYOSHKA_DIMS,
        N_QUERIES,
        TOP_K,
    )

    rows = load_all()["emb_matryoshka_recall"].fn(spark, SF_ORACLE).collect()
    emb = pd.read_parquet(f"{SF_ORACLE}/embeddings.parquet")
    vecs = {int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
            for _, r in emb.iterrows()}
    want = {}
    full = MATRYOSHKA_DIMS[-1]
    for qid in range(N_QUERIES):
        tops = {}
        for p in MATRYOSHKA_DIMS:
            scored = []
            a = vecs[qid][:p]
            na = math.sqrt(float((a * a).sum()))
            for vid, v in vecs.items():
                if vid == qid:
                    continue
                b = v[:p]
                nb = math.sqrt(float((b * b).sum()))
                scored.append((-float(a @ b) / (na * nb), vid))
            scored.sort()
            tops[p] = {vid for _, vid in scored[:TOP_K]}
        for p in MATRYOSHKA_DIMS:
            hits = len(tops[p] & tops[full])
            want[(qid, p)] = (hits, 1000 * hits // TOP_K)
    got = {
        (r["query_id"], r["prefix_dims"]): (r["hits_at_k"], r["recall_permille"])
        for r in rows
    }
    assert got == want
    for qid in range(N_QUERIES):
        assert got[(qid, full)] == (TOP_K, 1000)
    assert any(v[1] < 1000 for v in got.values())


def test_matryoshka_single_corpus_pass_plan(spark):
    """One broadcast of the query set, ONE corpus scan computing every
    prefix cosine, rankings sharing one query-keyed partitioning — no
    per-prefix re-scan, no cartesian beyond the deliberate broadcast."""
    df = load_all()["emb_matryoshka_recall"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert plan.count("Location: InMemoryFileIndex") == 2, plan  # query + corpus
    # the deliberate broadcast-nested-loop of the tiny query set is the
    # ONLY join (appears twice in formatted output: tree + detail)
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    # all four prefix rankings share ONE query-keyed exchange
    assert plan.count("+- Exchange") == 1, plan
