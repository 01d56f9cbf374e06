"""Behavior tests for the round-7 operators, beyond the oracle hash
checks: KM survival recounted from raw events, the Holt recursion
replayed in Python, the chi-square statistic recounted with exact
fractions, and LPA community well-formedness."""

from __future__ import annotations

import pandas as pd

from snackfs_spark.registry import load_all
from tests.conftest import SF_ORACLE

REG = load_all()


def _events() -> pd.DataFrame:
    ev = pd.read_parquet(f"{SF_ORACLE}/events.parquet")
    ev["d"] = pd.to_datetime(ev["ts"]).dt.floor("D")
    return ev


def test_survival_km_recount(spark):
    """at_risk / deaths / censored recount from raw events; survival is
    the running product of (at_risk - deaths) / at_risk and strictly
    decreases across death days."""
    rows = sorted(
        REG["events_survival_km"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["duration_days"],
    )
    ev = _events()
    pu = ev.groupby("user_id")["d"].agg(["min", "max"])
    fp = (
        ev[ev.event_type == "purchase"]
        .groupby("user_id")["d"]
        .min()
        .rename("purch")
    )
    u = pu.join(fp)
    dur = (u["purch"].fillna(u["max"]) - u["min"]).dt.days
    cen = u["purch"].isna()
    # per-duration tallies
    deaths = dur[~cen].value_counts().to_dict()
    censored = dur[cen].value_counts().to_dict()
    surv = 1.0
    for r in rows:
        t = r["duration_days"]
        at_risk = int((dur >= t).sum())
        assert r["at_risk"] == at_risk
        assert r["deaths"] == deaths.get(t, 0) and r["deaths"] > 0
        assert r["censored_n"] == censored.get(t, 0)
        # replay the operator's exact order: factor FIRST (one division),
        # then the running product — a*(b/c) != (a*b)/c in floats
        factor = (at_risk - r["deaths"]) / at_risk
        new_surv = surv * factor
        assert r["survival"] == new_surv
        assert new_surv < surv
        surv = new_surv


def test_holt_forecast_replay(spark):
    """The (level, trend) trace equals the Python recursion on the exact
    monthly cents series, bit-for-bit; forecast_next = level + trend."""
    rows = sorted(
        REG["orders_holt_linear_forecast"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["month"],
    )
    orders = pd.read_parquet(f"{SF_ORACLE}/orders.parquet")
    cents = (
        (orders.o_totalprice * 100).round().astype("int64")
    )  # 2-dec money -> exact cents
    months = pd.to_datetime(orders.o_orderdate).dt.strftime("%Y-%m")
    series = cents.groupby(months).sum().sort_index()
    assert [r["month"] for r in rows] == list(series.index)
    lvl, trd = float(series.iloc[0]), 0.0
    states = [(lvl, trd)]
    for y in series.iloc[1:]:
        nl = 0.5 * float(y) + 0.5 * (lvl + trd)
        trd = 0.25 * (nl - lvl) + 0.75 * trd
        lvl = nl
        states.append((lvl, trd))
    for r, (sl, st) in zip(rows, states):
        assert r["level"] == sl and r["trend"] == st
        assert r["forecast_next"] == sl + st
    assert [r["revenue_cents"] for r in rows] == list(series)


def test_two_proportion_exact_statistic(spark):
    """chi2_num/chi2_den recount via exact fractions from the raw user
    table; the significance flag equals the Fraction comparison against
    3.8415."""
    from fractions import Fraction

    rows = REG["events_two_proportion_test"].fn(spark, SF_ORACLE).collect()
    ev = _events()
    first = ev.groupby("user_id")["d"].min()
    first_purch = ev[ev.event_type == "purchase"].groupby("user_id")["d"].min()
    delay = (first_purch - first).dt.days.reindex(first.index)
    conv = (delay <= 2).astype(int)  # AB_CONV_DAYS activation window
    arm = conv.index % 2
    n0, n1 = int((arm == 0).sum()), int((arm == 1).sum())
    c0, c1 = int(conv[arm == 0].sum()), int(conv[arm == 1].sum())
    nn, cc = n0 + n1, c0 + c1
    num = nn * (c0 * n1 - c1 * n0) ** 2
    den = n0 * n1 * cc * (nn - cc)
    assert 0 < cc < nn, "activation metric degenerate at this sf"
    by_arm = {r["arm"]: r for r in rows}
    assert by_arm[0]["n_users"] == n0 and by_arm[1]["n_users"] == n1
    assert by_arm[0]["n_converted"] == c0 and by_arm[1]["n_converted"] == c1
    for r in rows:
        assert int(r["chi2_num"]) == num and int(r["chi2_den"]) == den
        assert r["significant"] == int(
            Fraction(num, den) > Fraction(38415, 10000)
        )
        assert r["rate_ppm"] == (1_000_000 * r["n_converted"]) // r["n_users"]


def test_label_propagation_well_formed(spark):
    """Labels are real node ids (labels can only propagate from nodes),
    sizes recount, the near-dup graph yields MANY communities, and every
    node carries exactly one label."""
    rows = REG["graph_label_propagation"].fn(spark, SF_ORACLE).collect()
    nodes = {r["doc_id"] for r in rows}
    by_comm: dict[int, list[int]] = {}
    for r in rows:
        by_comm.setdefault(r["community"], []).append(r["doc_id"])
    for comm in by_comm:
        assert comm in nodes, f"label {comm} is not a graph node"
    sizes = {r["community"]: r["community_size"] for r in rows}
    for comm, members in by_comm.items():
        assert sizes[comm] == len(members)
    assert len(by_comm) > 1
    assert len(rows) == len(nodes)


def test_kcenter_greedy_replay(spark):
    """numpy replay of Gonzalez's greedy selection (same tie rule)
    reproduces the centers and radii; radii are non-increasing."""
    import numpy as np

    rows = sorted(
        REG["sample_coreset_kcenter"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["round"],
    )
    emb = pd.read_parquet(f"{SF_ORACLE}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    chosen = [0]
    assert rows[0]["vec_id"] == ids[0] == 0 and rows[0]["radius"] == 0.0
    radii = [0.0]
    for r in rows[1:]:
        d = ((X[:, None, :] - X[chosen][None, :, :]) ** 2).sum(axis=2).min(axis=1)
        best = d.max()
        pick = ids[(d == best)].min()
        assert r["vec_id"] == pick
        radii.append(r["radius"])
        chosen.append(int(np.where(ids == pick)[0][0]))
    assert all(a >= b for a, b in zip(radii[1:], radii[2:]))


def test_backlog_stabbing_recount(spark):
    """backlog(m) equals the naive interval-stabbing count (open_month
    <= m <= completion_month) and the opened/completed columns both sum
    to the order count."""
    rows = sorted(
        REG["orders_open_backlog"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["month"],
    )
    orders = pd.read_parquet(f"{SF_ORACLE}/orders.parquet")
    li = pd.read_parquet(f"{SF_ORACLE}/lineitem.parquet")
    done = li.groupby("l_orderkey")["l_shipdate"].max()
    om = pd.to_datetime(orders.o_orderdate).dt.strftime("%Y-%m")
    cm = (
        pd.to_datetime(done.reindex(orders.o_orderkey).values)
        .to_series(index=orders.index)
        .fillna(pd.to_datetime(orders.o_orderdate))
        .dt.strftime("%Y-%m")
    )
    cm = pd.concat([om, cm], axis=1).max(axis=1)  # the operator's clamp
    assert sum(r["n_opened"] for r in rows) == len(orders)
    assert sum(r["n_completed"] for r in rows) == len(orders)
    for r in rows[::7]:  # sample every 7th month; full loop is slow
        m = r["month"]
        assert r["backlog"] == int(((om <= m) & (cm >= m)).sum()), m


def test_snm_planted_typo_recall(spark):
    """The planted typo registrations (reg_id + 1e9, 'Customer #'
    variant — sort-adjacent to their base by construction) must link to
    their base in >= 90% of cases; pairs are well-formed (a < b,
    lev <= 2, 0 < gap < window)."""
    rows = REG["dedup_entity_snm"].fn(spark, SF_ORACLE).collect()
    found = {(r["reg_a"], r["reg_b"]) for r in rows}
    for r in rows:
        # pairs are SORT-POSITION ordered (a before b in the sorted
        # stream), not id-ordered
        assert r["reg_a"] != r["reg_b"]
        assert r["lev"] <= 2
        assert 0 < r["pos_gap"] <= 4
    cust = pd.read_parquet(f"{SF_ORACLE}/customer.parquet")
    import hashlib

    def b(k, m):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % m

    typo_ids = [k for k in cust.c_custkey if b(k, 7) == 2]
    hits = sum(
        1 for k in typo_ids
        if (k, k + 1000000000) in found or (k + 1000000000, k) in found
    )
    assert hits / len(typo_ids) >= 0.9, f"{hits}/{len(typo_ids)} typo pairs linked"


def test_boolean_query_set_algebra(spark):
    """The result set equals the pandas set algebra docs(ta) ∩ docs(tb)
    \\ docs(tn) for the df-rank-5/6/7 terms, with exact tfs."""
    rows = REG["retrieval_boolean_query"].fn(spark, SF_ORACLE).collect()
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    tok = docs.assign(token=docs.text.str.split(" ")).explode("token")
    tok = tok[tok.token != ""]
    tf = tok.groupby(["token", "doc_id"]).size()
    df_rank = (
        tf.groupby("token").size().to_frame("df").reset_index()
        .sort_values(["df", "token"], ascending=[False, True])
        .reset_index(drop=True)
    )
    ta, tb, tn = df_rank.token[4], df_rank.token[5], df_rank.token[6]
    d = lambda t: set(tf[t].index)
    expect = (d(ta) & d(tb)) - d(tn)
    assert {r["doc_id"] for r in rows} == expect
    for r in rows:
        assert (r["term_a"], r["term_b"], r["term_not"]) == (ta, tb, tn)
        assert r["tf_a"] == tf[(ta, r["doc_id"])]
        assert r["tf_b"] == tf[(tb, r["doc_id"])]


def test_orc_roundtrip_byte_exact(spark):
    """Every field survives the ORC container byte-exact; the shards
    split (multiple files on disk)."""
    import os

    rows = REG["corpus_orc_roundtrip"].fn(spark, SF_ORACLE).collect()
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    got = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"]) for r in rows}
    assert len(got) == len(docs)
    for t in docs.itertuples():
        assert got[t.doc_id] == (t.text, t.lang, t.source, t.n_chars)
    from snackfs_spark.operators.content import orc_shards_for

    files = [f for f in os.listdir(orc_shards_for(spark, SF_ORACLE)) if f.endswith(".orc")]
    assert len(files) >= 2


def test_blocklist_scan_recount(spark):
    """Per-(doc, phrase) counts recount from a pandas bigram pass over
    the top-5 phrase list."""
    from collections import Counter

    rows = REG["text_blocklist_scan"].fn(spark, SF_ORACLE).collect()
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    counts: Counter = Counter()
    for t in docs.itertuples():
        ws = t.text.split(" ")
        for a, b in zip(ws, ws[1:]):
            if a and b:
                counts[(t.doc_id, f"{a} {b}")] += 1
    phrase_tot = Counter()
    for (_, p), c in counts.items():
        phrase_tot[p] += c
    top = {p for p, _ in sorted(phrase_tot.items(), key=lambda kv: (-kv[1], kv[0]))[:5]}
    expect = {k: c for k, c in counts.items() if k[1] in top}
    assert {(r["doc_id"], r["phrase"]): r["n_occ"] for r in rows} == expect


def test_ar_aging_conserves_backlog(spark):
    """The aging buckets partition the final-month backlog exactly:
    sum(n_orders) equals orders_open_backlog's backlog at the reference
    (max open) month."""
    aging = REG["orders_ar_aging"].fn(spark, SF_ORACLE).collect()
    backlog = sorted(
        REG["orders_open_backlog"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["month"],
    )
    ref_rows = [r for r in backlog if r["n_opened"] > 0]
    ref = ref_rows[-1]  # max month with any opening = the reference month
    assert sum(r["n_orders"] for r in aging) == ref["backlog"]
    assert {r["age_bucket"] for r in aging} <= {"0-1", "2-3", "4-6", "7+"}


def test_permission_audit_decode(spark):
    """Mode strings decode the octal digits exactly (pandas replay) and
    entry counts conserve the namespace size."""
    rows = REG["fs_permission_audit"].fn(spark, SF_ORACLE).collect()

    def rwx(d):
        return (
            ("r" if (d // 4) % 2 else "-")
            + ("w" if (d // 2) % 2 else "-")
            + ("x" if d % 2 else "-")
        )

    for r in rows:
        p = r["permission"]
        expect = ("d" if r["is_dir"] else "-") + rwx(p // 100) + rwx((p // 10) % 10) + rwx(p % 10)
        assert r["mode_str"] == expect
        assert r["world_writable"] == ((p % 10) // 2) % 2
        assert r["n_entries"] > 0


def test_conformance_audit_recount(spark):
    """Violation counts recount from a pandas per-user session replay
    of the stage-rank rule."""
    rows = REG["events_conformance_audit"].fn(spark, SF_ORACLE).collect()
    ev = pd.read_parquet(f"{SF_ORACLE}/events.parquet")
    ev = ev[ev.event_type != "error"].copy()
    stage = {"signup": 0, "view": 1, "click": 2, "purchase": 3}
    ev["stage"] = ev.event_type.map(stage)
    # parquet ts is datetime64[us]: the int64 view IS microseconds
    ev["t_us"] = pd.to_datetime(ev.ts).astype("datetime64[us]").astype("int64")
    got = {r["user_id"]: r for r in rows}
    checked = 0
    for uid, g in ev.sort_values(["t_us", "event_id"]).groupby("user_id"):
        n_tr = n_viol = 0
        prev_t = prev_s = None
        for t, s in zip(g.t_us, g.stage):
            if prev_t is not None and t - prev_t <= 1800 * 1_000_000:
                n_tr += 1
                if s < prev_s:
                    n_viol += 1
            prev_t, prev_s = t, s
        if uid in got:
            r = got[uid]
            assert r["n_transitions"] == n_tr and r["n_violations"] == n_viol
            assert r["conformance_ppm"] == (1_000_000 * (n_tr - n_viol)) // n_tr
            checked += 1
    assert checked == len(rows) > 0


def test_bench_regression_gate_levels():
    """bench's regression gate with the real recorded per-query times of
    var/bench_last.json as floors: quiet on a replay (no alarm, no hard
    failure), while a regression confined to a minority of queries (the
    heaviest 40% of the battery, 2x slower) leaves host drift at 1, so
    nothing is excused, and trips the HARD gate. A uniform inflation is
    divided out as host drift by design; that is pinned in
    test_bench_gate.py."""
    import json
    from pathlib import Path

    import bench

    last = json.loads(
        (Path(__file__).resolve().parent.parent / "var" / "bench_last.json")
        .read_text()
    )["queries"]
    hard, drift, alarms = bench.gate(last, last)
    assert (hard, drift, alarms) == (False, 1.0, [])
    # the heaviest 40% carry more than half the time, so doubling them
    # moves the total past HARD_RATIO while the drift median stays put
    names = sorted(last, key=last.get, reverse=True)
    slow = set(names[: int(len(names) * 0.4)])
    inflated = {n: (t * 2.0 if n in slow else t) for n, t in last.items()}
    hard, drift, alarms = bench.gate(inflated, last)
    assert drift == 1.0, "minority regression must not be excused"
    assert hard is True
    assert alarms[-1].startswith("# ALARM_HARD")


def test_mmr_greedy_replay(spark):
    """numpy replay of the MMR selection (lambda = 0.5, pool 30, ties to
    smallest id) reproduces picks, scores and the diversity invariant
    (picked set's pairwise max-sim column matches)."""
    import numpy as np

    rows = sorted(
        REG["retrieval_mmr_topk"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["rank"],
    )
    emb = pd.read_parquet(f"{SF_ORACLE}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    q = X[ids == 0][0]

    def cos(a, b):
        return float(
            (a * b).sum() / (np.sqrt((a * a).sum()) * np.sqrt((b * b).sum()))
        )

    rel = {int(i): cos(q, x) for i, x in zip(ids, X) if i != 0}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:30]
    sel: list[int] = []
    for r in rows:
        best = None
        for d in pool:
            if d in sel:
                continue
            ms = max((cos(X[ids == d][0], X[ids == s][0]) for s in sel), default=0.0)
            score = 0.5 * rel[d] - 0.5 * ms
            key = (-score, d)
            if best is None or key < best[0]:
                best = (key, d, ms, score)
        _, pick, ms, score = best
        assert r["vec_id"] == pick, (r["rank"], r["vec_id"], pick)
        assert abs(r["mmr_score"] - score) < 1e-12
        assert abs(r["max_sim_selected"] - ms) < 1e-12
        sel.append(pick)


def test_distinct_ngrams_recount(spark):
    """Distinct-n counts and permille ratios recount from a pandas gram
    pass; distinct <= total and bigram diversity >= unigram diversity
    on natural-ish text (more unique bigrams per occurrence)."""
    rows = REG["text_distinct_ngrams"].fn(spark, SF_ORACLE).collect()
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    got = {r["source"]: r for r in rows}
    assert len(got) == docs.source.nunique()
    for src, g in docs.groupby("source"):
        t1 = d1 = t2 = 0
        u1: set = set()
        u2: set = set()
        for text in g.text:
            ws = [w for w in text.split(" ")]
            toks = [w for w in ws if w]
            t1 += len(toks)
            u1.update(toks)
            for a, b in zip(ws, ws[1:]):
                if a and b:
                    t2 += 1
                    u2.add(f"{a} {b}")
        r = got[src]
        assert (r["total_1"], r["distinct_1"]) == (t1, len(u1))
        assert (r["total_2"], r["distinct_2"]) == (t2, len(u2))
        assert r["distinct1_permille"] == (1000 * len(u1)) // t1
        assert r["distinct2_permille"] == (1000 * len(u2)) // t2
        assert r["distinct2_permille"] >= r["distinct1_permille"]


def test_namespace_profile_recount(spark):
    """Depth lattice, counts, bytes and max fanout recount from the
    catalog's files relation in pandas."""
    from snackfs_spark.sources.fsmodel import files_df

    rows = REG["fs_namespace_profile"].fn(spark, SF_ORACLE).collect()
    f = files_df(spark, SF_ORACLE).toPandas()
    # depth = count of non-empty path components ('/' = 0, '/data' = 1
    # — the r7 ADVICE convention); children of depth-d parents sit at
    # depth d+1, so root children land at child_depth 1.
    n_comp = lambda s: s.str.split("/").map(  # noqa: E731
        lambda parts: sum(1 for p in parts if p)
    )
    f["depth"] = n_comp(f.path)
    got = {r["depth"]: r for r in rows}
    fan = (
        f[f.parent_path.fillna("") != ""]
        .groupby("parent_path")
        .size()
        .rename("n")
        .reset_index()
    )
    fan["child_depth"] = n_comp(fan.parent_path) + 1
    fan_max = fan.groupby("child_depth")["n"].max().to_dict()
    for depth, g in f.groupby("depth"):
        r = got[depth]
        assert r["n_dirs"] == int(g.is_dir.sum())
        assert r["n_files"] == int((~g.is_dir).sum())
        assert r["total_bytes"] == int(g.loc[~g.is_dir, "size"].sum())
        assert r["max_fanout"] == int(fan_max.get(depth, 0))
    assert len(got) == f.depth.nunique() >= 2
