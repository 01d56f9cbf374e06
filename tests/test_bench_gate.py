"""Pins for bench.py's query list and regression gate.

Two failure modes shaped the gate:
(a) stderr ALARM lines printed after the stdout JSON push the JSON out
    of the 2000-char merged tail it is read back from — so the JSON line
    must be the LAST output;
(b) host CPU steal moves every query by the same factor — so the gate
    divides out uniform drift (the median per-query ratio) while a
    regression concentrated in a few queries (median ~1) still fails.
Floors come only from history rows of the same (sf, cpus).
"""

from __future__ import annotations

import json
from pathlib import Path

import bench
from snackfs_spark import memo
from snackfs_spark.registry import load_all
from tests.conftest import stub_session

REPO = Path(__file__).resolve().parent.parent

FLAT = {f"q{i}": 1.0 for i in range(10)}


def _main_body() -> str:
    src = (REPO / "bench.py").read_text()
    body = src[src.index("def main("):]
    return body[: body.index("\ndef ")]


def test_queries_tuple_is_the_registered_run_order():
    registry = load_all()
    assert len(bench.QUERIES) == 203
    assert len(set(bench.QUERIES)) == 203
    assert [n for n in bench.QUERIES if n not in registry] == []
    assert bench.R01 == (
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
    )


def test_json_line_is_printed_after_alarms():
    """Source-order pin: main() prints the gate's alarms (stderr) before
    the stdout JSON line, so the JSON is the last thing in the tail."""
    body = _main_body()
    assert body.index("gate(") < body.index("print(alarm") < body.index("print(line)")


def test_main_appends_history_after_alarm_pass():
    """Source-order pin: the history append comes AFTER the gate in
    main(), so a run never anchors its drift against itself."""
    body = _main_body()
    assert body.index("gate(") < body.index('open(history, "a")')


def test_host_drift_uniform_slowdown_detected():
    # drift is the MEDIAN ratio: noisy steal around 1.55x still reads 1.55
    secs = [1.5, 1.6, 1.55, 1.5, 1.6, 1.55, 1.5, 1.6, 1.55, 1.55]
    timings = dict(zip(FLAT, secs))
    assert bench.gate(timings, FLAT)[1] == 1.55


def test_host_drift_single_query_regression_is_not_drift():
    timings = {**FLAT, "q3": 5.0}  # one regressed query must not move the median
    assert bench.gate(timings, FLAT)[1] == 1.0


def test_host_drift_clamped_and_needs_anchors():
    # clamp: a 10x uniform blowup is a config regression, not weather
    assert bench.gate({n: 10.0 for n in FLAT}, FLAT)[1] == bench.DRIFT_CAP
    # too few anchors -> no excuse
    assert bench.gate({"q0": 2.0}, {"q0": 1.0})[1] == 1.0


def test_degraded_host_does_not_trip_hard_gate():
    """Identical code on a 1.55x-steal host: every query up 1.55x ->
    drift 1.55 divides it out; no alarm, no HARD (exit 0)."""
    hard, drift, alarms = bench.gate({n: 1.55 for n in FLAT}, FLAT)
    assert (hard, drift, alarms) == (False, 1.55, [])


def test_injected_plan_regression_still_trips_hard_gate():
    """A real regression concentrated in a few queries (e.g. a dropped
    broadcast hint): the rest stay flat, drift stays 1, the total is
    22 s vs 14 s = 1.57x -> the exit-3 path."""
    floors = {**FLAT, **{f"s{i}": 1.0 for i in range(4)}}
    timings = {**FLAT, **{f"s{i}": 3.0 for i in range(4)}}
    hard, drift, alarms = bench.gate(timings, floors)
    assert drift == 1.0
    assert hard is True
    assert alarms[-1].startswith("# ALARM_HARD total over 14 anchored queries")


def test_alarm_names_the_regressed_query():
    """One line per query over HARD_RATIO (drift-adjusted), naming it;
    one slow query among flat ones alarms but does not fail the run."""
    timings = {**FLAT, "q3": 5.0}
    hard, _, alarms = bench.gate(timings, FLAT)
    assert hard is False  # total 14 s vs 10 s = 1.4x
    assert alarms == [
        "# ALARM q3: 5.000s vs floor 1.000s (5.00x drift-adjusted > 1.5)"
    ]
    # unanchored queries are never alarmed
    assert bench.gate({"new_q": 9.0, **FLAT}, FLAT)[2] == []


def test_uniform_blowup_beyond_cap_still_fails():
    """DRIFT_CAP bounds what uniformity can excuse: a uniform 3.2x
    (> DRIFT_CAP * HARD_RATIO) blowup fails even though it is uniform —
    that is a session-config regression, not host weather."""
    hard, drift, alarms = bench.gate({n: 3.2 for n in FLAT}, FLAT)
    assert drift == bench.DRIFT_CAP
    assert hard is True
    assert len(alarms) == len(FLAT) + 1


def _write_history(tmp_path, rows) -> Path:
    path = tmp_path / "bench_history.jsonl"
    path.write_text("".join(json.dumps(r) + "\n" for r in rows))
    return path


def test_floor_is_recent_median_and_history_widens_anchors(tmp_path):
    """The floor is the median of the query's RECENT_FLOOR_K most recent
    times (a best-ever floor biases drift > 1 on normal days), and every
    query of a full-payload history row anchors, not just R01."""
    rows = [
        {"sf": 0.1, "cpus": 4, "queries": {"q1": sec}}
        for sec in (9.0, 1.0, 4.0, 2.0)
    ] + [
        {"sf": 0.1, "cpus": 4, "queries": {"q1": 2.0, "deep_cut": 7.0}},
        {"sf": 0.1, "cpus": 4, "queries": {"q1": 2.0, "deep_cut": 5.0}},
        {"sf": 0.5, "cpus": 4, "queries": {"q1": 99.0}},  # other sf: ignored
    ]
    floors = bench.load_floors(_write_history(tmp_path, rows), 0.1, 4)
    # median of the last five [1, 4, 2, 2, 2]: not the min 1.0, and the
    # oldest 9.0 is outside the window
    assert floors == {"q1": 2.0, "deep_cut": 6.0}


def test_floor_only_from_rows_of_the_same_cpus(tmp_path):
    """A row recorded at another local[N], or before rows carried a core
    count, contributes no floor."""
    rows = [
        {"sf": 0.1, "queries": {"q1": 1.0, "legacy": 1.0}},
        {"sf": 0.1, "cpus": 8, "queries": {"q1": 1.0, "eight": 1.0}},
        {"sf": 0.1, "cpus": 4, "queries": {"q1": 3.0}},
    ]
    path = _write_history(tmp_path, rows)
    assert bench.load_floors(path, 0.1, 4) == {"q1": 3.0}
    assert bench.load_floors(path, 0.1, 2) == {}
    assert bench.load_floors(tmp_path / "missing.jsonl", 0.1, 4) == {}


def test_payload_carries_drift_field():
    """The stdout JSON records the drift estimate (how much uniformity
    was divided out) and the core count its floors are keyed on."""
    body = _main_body()
    assert '"host_drift": drift' in body
    assert '"cpus": cpus' in body


@memo.shared
def _bench_probe(spark, sf_dir):
    return object()


def test_later_rep_rebuild_prints_alarm(capsys):
    """A shared-relation rebuild in rep 2 or 3 (an LRU eviction) is not
    steady state: _time_query names the query in a stderr ALARM instead
    of letting the rebuild hide inside best-of-3, and bills only rep 1's
    builds to the first toucher."""
    rel = memo.relation(f"{__name__}._bench_probe")
    rel.clear()
    s = stub_session("bench-gate")

    reps = []

    def run():
        reps.append(1)
        if len(reps) == 3:
            rel.clear()  # evicted before rep 3
        _bench_probe(s, "sf")

    _best, _first, first_builds = bench._time_query("q_probe", run)
    err = capsys.readouterr().err
    assert first_builds == 1
    assert "ALARM q_probe: rep 3 rebuilt 1" in err
    assert "rep 2" not in err
