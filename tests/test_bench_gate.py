"""Pins for bench.py's regression gate (r9 VERDICT #2/#3).

Round 9 proved two failure modes in the bench harness itself:
(a) the 22 stderr ALARM lines printed AFTER the stdout JSON displaced
    the JSON out of the driver's merged 2000-char tail (BENCH_r09.json
    parsed: null) — so the JSON line must be the LAST output;
(b) host CPU steal moved every query uniformly ~1.2x and tripped the
    HARD gate (exit 3) on identical code — so the HARD escalation must
    divide out UNIFORM drift (median anchor ratio) while a single-group
    regression (median ~1) still fails.
"""

from __future__ import annotations

import re
from pathlib import Path

import bench
from snackfs_spark import memo
from tests.conftest import stub_session

REPO = Path(__file__).resolve().parent.parent


def test_json_line_is_printed_after_alarms():
    """Source-order pin: main() must run the alarm block (stderr) before
    printing the stdout JSON line, so the JSON is the last thing in the
    driver's merged tail."""
    src = (REPO / "bench.py").read_text()
    body = src[src.index("def main()") : src.index("def _round_groups")
               if src.index("def _round_groups") > src.index("def main()")
               else len(src)]
    # locate within main()'s body only
    main_body = src[src.index("def main()"):]
    main_body = main_body[: main_body.index("\ndef ")]
    alarm_at = main_body.index("_alarm_on_subtotal_regressions(")
    print_at = main_body.index("print(line)")
    assert alarm_at < print_at, (
        "alarms must print before the JSON line or they displace it from"
        " the driver's 2000-char tail (BENCH_r09 parsed: null)"
    )
    assert body  # silence the unused intermediate


def test_host_drift_uniform_slowdown_detected():
    minima = {f"q{i}": 1.0 for i in range(10)}
    timings = {f"q{i}": 1.55 for i in range(10)}
    assert bench._host_drift(timings, minima) == 1.55


def test_host_drift_single_query_regression_is_not_drift():
    minima = {f"q{i}": 1.0 for i in range(10)}
    timings = {f"q{i}": 1.0 for i in range(10)}
    timings["q3"] = 5.0  # one regressed query must not move the median
    assert bench._host_drift(timings, minima) == 1.0


def test_host_drift_clamped_and_needs_anchors():
    # clamp: a 10x uniform blowup is a config regression, not weather
    minima = {f"q{i}": 1.0 for i in range(10)}
    assert bench._host_drift({f"q{i}": 10.0 for i in range(10)}, minima) == bench.DRIFT_CAP
    # too few anchors -> no excuse
    assert bench._host_drift({"q0": 2.0}, {"q0": 1.0}) == 1.0


def _fake_prior(groups: dict[str, list[str]], old_subtotals: dict[str, float],
                minima: dict[str, float]):
    prior = {k: ("BENCH_rXX.json", v) for k, v in old_subtotals.items()}
    return prior, minima


def test_degraded_host_does_not_trip_hard_gate(monkeypatch, capsys):
    """Identical code on a 1.55x-steal host: every anchor and every
    subtotal up 1.55x -> soft ALARM yes, HARD no (exit 0)."""
    names = [f"q{i}" for i in range(10)]
    monkeypatch.setattr(bench, "_round_groups", lambda: {"r01_comparable_subtotal": names})
    minima = {n: 1.0 for n in names}
    monkeypatch.setattr(
        bench, "_prior_bench_data",
        lambda sf: _fake_prior({}, {"r01_comparable_subtotal": 10.0}, minima),
    )
    timings = {n: 1.55 for n in names}
    hard, drift = bench._alarm_on_subtotal_regressions(timings, "0.1")
    assert drift == 1.55
    assert hard is False
    err = capsys.readouterr().err
    assert "ALARM" in err and "ALARM_HARD" not in err


def test_injected_plan_regression_still_trips_hard_gate(monkeypatch, capsys):
    """A real regression concentrated in one group (e.g. a dropped
    broadcast hint): anchors elsewhere stay flat, drift ~1, the group's
    adjusted ratio stays >1.5 -> exit 3 path."""
    slow = [f"s{i}" for i in range(4)]
    flat = [f"q{i}" for i in range(10)]
    monkeypatch.setattr(
        bench, "_round_groups",
        lambda: {"r01_comparable_subtotal": flat, "r02_comparable_subtotal": flat + slow},
    )
    minima = {n: 1.0 for n in flat}  # anchors = the healthy queries
    monkeypatch.setattr(
        bench, "_prior_bench_data",
        lambda sf: _fake_prior(
            {},
            {"r01_comparable_subtotal": 10.0, "r02_comparable_subtotal": 14.0},
            minima,
        ),
    )
    timings = {n: 1.0 for n in flat}
    timings.update({n: 3.0 for n in slow})  # group2: 10+12=22 vs 14 = 1.57x
    hard, drift = bench._alarm_on_subtotal_regressions(timings, "0.1")
    assert drift == 1.0
    assert hard is True
    assert "ALARM_HARD" in capsys.readouterr().err


def test_uniform_blowup_beyond_cap_still_fails(monkeypatch):
    """DRIFT_CAP bounds what uniformity can excuse: a uniform 3.2x
    (> DRIFT_CAP * HARD_RATIO) blowup fails even though it is uniform —
    that is a session-config regression, not host weather."""
    names = [f"q{i}" for i in range(10)]
    monkeypatch.setattr(bench, "_round_groups", lambda: {"r01_comparable_subtotal": names})
    minima = {n: 1.0 for n in names}
    monkeypatch.setattr(
        bench, "_prior_bench_data",
        lambda sf: _fake_prior({}, {"r01_comparable_subtotal": 10.0}, minima),
    )
    timings = {n: 3.2 for n in names}
    hard, drift = bench._alarm_on_subtotal_regressions(timings, "0.1")
    assert drift == bench.DRIFT_CAP
    assert hard is True


def test_floor_is_recent_median_and_history_widens_anchors(tmp_path):
    """r10 ADVICE: anchors must not be limited to the HEADLINE queries
    recoverable from BENCH_r*.json, and the per-query floor must be the
    median of the RECENT_FLOOR_K most recent observations, not the
    all-time best (a best-ever floor biases drift > 1 on normal days).
    var/bench_history.jsonl (full payloads, appended per run) supplies
    both: battery-wide anchors and a rolling window."""
    import json

    (tmp_path / "var").mkdir()
    # three BENCH records: headline query q1 at 1.0 / 4.0 / 2.0 — the
    # old minimum-floor would be 1.0; recent median is 2.0
    for i, sec in enumerate([1.0, 4.0, 2.0], start=1):
        (tmp_path / f"BENCH_r0{i}.json").write_text(
            json.dumps({"sf": 0.1, "queries": {"q1": sec}})
        )
    # history carries a NON-headline query (full battery) plus more q1
    hist = [
        {"sf": 0.1, "queries": {"q1": 2.0, "deep_cut": 7.0}},
        {"sf": 0.1, "queries": {"q1": 2.0, "deep_cut": 5.0}},
        {"sf": 0.5, "queries": {"q1": 99.0}},  # other sf: ignored
    ]
    (tmp_path / "var" / "bench_history.jsonl").write_text(
        "".join(json.dumps(h) + "\n" for h in hist)
    )
    _prior, floors = bench._prior_bench_data("0.1", here=str(tmp_path))
    assert floors["q1"] == 2.0  # median of [1,4,2,2,2], not min 1.0
    assert floors["deep_cut"] == 6.0  # history-only anchor present
    assert "q1" in floors and len(floors) == 2


def test_floor_falls_back_to_bench_last_without_history(tmp_path):
    import json

    (tmp_path / "var").mkdir()
    (tmp_path / "var" / "bench_last.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"only_here": 3.0}})
    )
    _prior, floors = bench._prior_bench_data("0.1", here=str(tmp_path))
    assert floors == {"only_here": 3.0}


def test_main_appends_history_after_alarm_pass():
    """Source-order pin: the history append must come AFTER the alarm
    call in main(), so a run never anchors its drift against itself."""
    src = (REPO / "bench.py").read_text()
    main_body = src[src.index("def main()"):]
    main_body = main_body[: main_body.index("\ndef ")]
    alarm_at = main_body.index("_alarm_on_subtotal_regressions(")
    hist_at = main_body.index("bench_history.jsonl")
    assert alarm_at < hist_at


_TS_RE = re.compile(r'"host_drift"')


def test_payload_carries_drift_field():
    """The stdout JSON records the drift estimate so a judge reading
    BENCH_r{N}.json can see how much uniformity was divided out."""
    src = (REPO / "bench.py").read_text()
    assert '"host_drift": drift' in src


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
