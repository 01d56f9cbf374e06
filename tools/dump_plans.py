"""Generate PLANS.md: collapsed physical-plan operator chains for the
queries bench.py times — the reviewable evidence that each plan has the
shape SCALE.md claims (pushdown, broadcast, partial top-k, no cartesian).
PLANS.md is regenerated on demand, not tracked (.gitignore). The tables
are read in the bench's layout (tables.load_table picks it from the
fixture and the core count).

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from bench import QUERIES  # noqa: E402
from snackfs_spark.plans import formatted_plan  # noqa: E402
from snackfs_spark.registry import load_all  # noqa: E402
from snackfs_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

INTERESTING = (
    "PushedFilters: \\[[^\\]]",
    "PartitionFilters: \\[[^\\]]",
)


def main() -> None:
    reg = load_all()
    spark = get_spark("dump_plans", cpus=8)
    lines = [
        "# PLANS — physical operator chains (sf0.01, generated by tools/dump_plans.py)",
        "",
        "One line per physical operator, leaves first. Compare against the",
        "per-operator shape claims in SCALE.md; plan regressions show up as",
        "diffs here. Key properties to look for: filters reaching the scan",
        "(`PushedFilters`), dims broadcast (`BroadcastHashJoin`), partial",
        "top-k (`WindowGroupLimit`), heap-based cuts (`TakeOrderedAndProject`),",
        "and the ABSENCE of `CartesianProduct` outside deliberate",
        "broadcast-nested-loop interval joins.",
        "",
        "Queries consuming session-memoized relations (the retrieval",
        "evals, LSH tuning, the graph family — DESIGN.md r7-r8 note)",
        "show `Scan ExistingRDD` where the shared pipeline's lazy",
        "localCheckpoint sits; the UNCHECKPOINTED pipeline shapes stay",
        "pinned by tests/test_plans.py against the `_raw` builders.",
        "",
    ]
    for name in QUERIES:
        df = reg[name].fn(spark, SF)
        plan = formatted_plan(df)
        ops = []
        for l in plan.splitlines():
            m = re.match(r"^\s*\(\d+\)\s+(.*)", l)
            if m:
                ops.append(m.group(1).strip())
        notable = [
            l.strip()
            for l in plan.splitlines()
            if any(re.search(p, l) for p in INTERESTING)
        ]
        lines.append(f"## {name}")
        lines.append("")
        lines.append("```")
        lines.extend(ops)
        for n in sorted(set(notable)):
            lines.append(f"* {n[:160]}")
        lines.append("```")
        lines.append("")
    (_REPO / "PLANS.md").write_text("\n".join(lines))
    print(f"PLANS.md: {len(lines)} lines")
    spark.stop()


if __name__ == "__main__":
    main()
