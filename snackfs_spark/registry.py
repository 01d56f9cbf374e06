"""Query registry: the single source of truth wiring SURVEY.md §2 operators
to (a) a PySpark callable and (b) the equivalent DuckDB oracle SQL.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this.

Register with the decorator:

    @register("q1_pricing_summary", oracle=\"\"\"SELECT ...\"\"\")
    def q1(spark, sf_dir): ...

Oracle-less (non-SQL-expressible) operators pass ``oracle=None`` and get
the driver's weaker rows-only check.

The driver hash-checks the FIRST ``WINDOW`` (50) queries of ``load_all()``
and writes one ``CORRECTNESS_r<N>.json`` per round into the repo root.
The window is computed from those artifacts, never curated by hand: the
``ANCHORS`` lead, then the registered queries least recently checked
green (``hash_match is True``), never-green ones first, ties in
registration order. Each new artifact rotates the names it holds out of
the next window, so every query is re-checked at least every
ceil((len(REGISTRY) - 2) / 48) rounds. Queries outside the window stay
hash-checked by the in-repo replica (tests/test_correctness.py).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


WINDOW = 50
ANCHORS = ("q1_pricing_summary", "fs_connector_roundtrip")


def driver_window(
    names: Iterable[str], artifacts: Mapping[int, Mapping[str, dict]]
) -> tuple[str, ...]:
    """The driver's WINDOW-query check window over ``names`` (in
    registration order), given ``artifacts`` = {round: {query: row}}.

    ANCHORS lead; the other slots go to the queries whose last green row
    (``hash_match is True``) is oldest, never-green ones first (round 0),
    ties in registration order."""
    names = list(names)
    missing = [a for a in ANCHORS if a not in names]
    if missing:
        raise ValueError(f"window anchors not registered: {missing}")
    last_green: dict[str, int] = {}
    for rnd, rows in artifacts.items():
        for name, row in rows.items():
            if row.get("hash_match") is True:
                last_green[name] = max(last_green.get(name, 0), rnd)
    rest = sorted(
        (n for n in names if n not in ANCHORS), key=lambda n: last_green.get(n, 0)
    )
    return ANCHORS + tuple(rest[: WINDOW - len(ANCHORS)])


def driver_artifacts(
    root: Path = Path(__file__).resolve().parents[1],
) -> dict[int, dict[str, dict]]:
    """{round: rows} of every ``CORRECTNESS_r<N>.json`` the driver wrote
    into ``root`` (the repo root, whatever the working directory)."""
    out = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        try:
            rows = json.loads(path.read_text())
        except ValueError as e:
            raise ValueError(f"unreadable driver artifact {path}: {e}") from e
        if not isinstance(rows, dict) or not all(
            isinstance(r, dict) for r in rows.values()
        ):
            raise ValueError(f"driver artifact {path} is not a {{query: row}} object")
        out[int(m.group(1))] = rows
    return out


def load_all() -> dict[str, Query]:
    """Import every operator module (each registers its queries) and return
    the registry, the driver window first (``driver_window``), the rest
    in registration order."""
    # Imports are side-effecting by design; keep the list explicit so a
    # missing module is an error, not silent coverage loss.
    from snackfs_spark.operators import (  # noqa: F401
        clustering,
        content,
        dedup,
        fsops,
        functions_battery,
        graph,
        interval_join,
        layout,
        mining,
        multimodal,
        relational,
        runtime_filter,
        sampling,
        similarity,
        textstats,
        windows,
    )
    from snackfs_spark.streaming import ingest  # noqa: F401

    window = driver_window(REGISTRY, driver_artifacts())
    ordered = {n: REGISTRY[n] for n in window}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    return ordered
