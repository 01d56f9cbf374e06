"""The driver's correctness gate checks the FIRST 50 registered queries.
`registry.driver_window` computes that window from the driver's
CORRECTNESS_r<N>.json artifacts: the anchors, then the least recently
green-checked queries. These tests pin the rule on synthetic artifacts
and its wiring into `load_all()` on the committed ones."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from snackfs_spark.registry import (
    ANCHORS,
    REGISTRY,
    WINDOW,
    driver_artifacts,
    driver_window,
    load_all,
)

_REPO = Path(__file__).resolve().parent.parent
GREEN = {"hash_match": True}
# registration order: the anchors sit mid-list, as in the real registry
NAMES = [f"q{i:02d}" for i in range(30)] + list(ANCHORS) + [
    f"q{i:02d}" for i in range(30, 70)
]
OTHERS = [n for n in NAMES if n not in ANCHORS]


def test_window_fits():
    load_all()
    window = driver_window(REGISTRY, driver_artifacts())
    assert len(window) == WINDOW
    assert len(set(window)) == WINDOW
    assert window[: len(ANCHORS)] == ANCHORS


def test_load_all_leads_with_driver_window():
    names = list(load_all())
    assert tuple(names[:WINDOW]) == driver_window(REGISTRY, driver_artifacts())
    assert sorted(names) == sorted(REGISTRY)


def test_load_all_window_independent_of_cwd():
    """The driver may start from any directory: the artifacts are read
    from the repo root, not the working directory."""
    code = "from snackfs_spark.registry import load_all; print(list(load_all())[:50])"
    env = {**os.environ, "PYTHONPATH": str(_REPO)}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert out.strip() == repr(list(load_all())[:WINDOW])


def test_never_green_first_then_oldest_green():
    artifacts = {
        3: {n: GREEN for n in OTHERS[:20]},
        5: {n: GREEN for n in OTHERS[20:60]},
    }
    window = driver_window(NAMES, artifacts)
    # 10 never-green (OTHERS[60:]), then the 20 round-3 names, then the
    # first 18 round-5 names in registration order
    assert window[2:] == tuple(OTHERS[60:] + OTHERS[:20] + OTHERS[20:38])


def test_non_green_rows_do_not_count():
    artifacts = {
        1: {n: GREEN for n in OTHERS},
        2: {n: GREEN for n in OTHERS[2:]}
        | {OTHERS[0]: {"hash_match": None}, OTHERS[1]: {"hash_match": False}},
    }
    # the two non-green round-2 rows keep their round-1 green: oldest
    assert driver_window(NAMES, artifacts)[2:4] == (OTHERS[0], OTHERS[1])
    # with no green row at all they rank as never-green, ahead of round 1
    artifacts[1] = {}
    assert driver_window(NAMES, artifacts)[2:4] == (OTHERS[0], OTHERS[1])


def test_ties_go_to_registration_order():
    artifacts = {4: {n: GREEN for n in reversed(OTHERS)}}
    assert driver_window(NAMES, artifacts) == ANCHORS + tuple(OTHERS[:48])


def test_anchors_lead_even_when_freshly_checked():
    artifacts = {9: {n: GREEN for n in ANCHORS}, 1: {n: GREEN for n in OTHERS}}
    assert driver_window(NAMES, artifacts)[:2] == ANCHORS


def test_missing_anchor_raises():
    with pytest.raises(ValueError, match=ANCHORS[1]):
        driver_window([n for n in NAMES if n != ANCHORS[1]], {})


def test_next_artifact_rotates_the_window_out():
    """The round after the driver checks a window green, its non-anchor
    names go behind every query that waited longer."""
    artifacts = {1: {n: GREEN for n in NAMES}}
    first = driver_window(NAMES, artifacts)
    assert first[2:] == tuple(OTHERS[:48])
    artifacts[2] = {n: GREEN for n in first}
    # 22 names waited since round 1; the rest of the slots re-check the
    # round-2 names in registration order
    assert driver_window(NAMES, artifacts)[2:] == tuple(OTHERS[48:] + OTHERS[:26])


def test_real_artifacts_rotate_out_on_the_next_round():
    names = list(load_all())
    artifacts = driver_artifacts()
    window = driver_window(names, artifacts)
    nxt = driver_window(
        names, {**artifacts, max(artifacts) + 1: {n: GREEN for n in window}}
    )
    assert not set(nxt[2:]) & set(window[2:])


def test_artifact_reader(tmp_path):
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps({"a": GREEN}))
    (tmp_path / "CORRECTNESS_r07_old.json").write_text("not json")
    (tmp_path / "CORRECTNESS_rx.json").write_text("not json")
    assert driver_artifacts(tmp_path) == {7: {"a": GREEN}}


@pytest.mark.parametrize("text", ['{"a": {"hash_match": tr', '["a", "b"]'])
def test_truncated_artifact_raises_naming_the_file(tmp_path, text):
    (tmp_path / "CORRECTNESS_r03.json").write_text(text)
    with pytest.raises(ValueError, match="CORRECTNESS_r03.json"):
        driver_artifacts(tmp_path)


def test_evicted_veterans_stay_oracled():
    """Every query the driver ever checked stays registered and
    hash-checked by the in-repo replica after it rotates out."""
    reg = load_all()
    for rows in driver_artifacts().values():
        for name in rows:
            assert name in reg, f"driver-checked {name} fell out of the registry"
            assert reg[name].oracle is not None, f"{name} lost its oracle"


def test_window_is_oracle_checked():
    """EVERYTHING in the window is hash-checked."""
    reg = load_all()
    for name in list(reg)[:WINDOW]:
        assert reg[name].oracle is not None, f"{name} has no oracle in the window"


def test_registry_fully_oracled():
    """r7 VERDICT #5: zero un-oracled queries — approx_aggregates got
    an error-bound oracle, so every registered query is hash-checked."""
    reg = load_all()
    unoracled = [n for n, q in reg.items() if q.oracle is None]
    assert unoracled == [], f"un-oracled queries: {unoracled}"
