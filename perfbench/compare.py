"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are result record files or directories of them (as written
to ``perfbench/.work/results`` by ``run.py``). For every workload with
untraced records on both sides it prints, per end-to-end metric, each
side's median and quartile spread and the change against the bound in
BENCHMARK.json. It refuses to compare (exit 2) when the records' ``cpus``
or ``sf`` differ, within a side or across sides: a run at another core
count or scale is not a baseline. Exit 1 when a metric worsened by more
than its bound.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def load(arg: str) -> dict[str, list[dict]]:
    path = Path(arg)
    files = sorted(path.glob("*.json")) if path.is_dir() else [path]
    by_workload: dict[str, list[dict]] = defaultdict(list)
    for f in files:
        rec = json.loads(f.read_text())
        if rec["fingerprint"]["trace"] == 0:
            by_workload[rec["workload"]].append(rec)
    return by_workload


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    keys = {(r["fingerprint"]["cpus"], r["fingerprint"]["sf"])
            for side in (base, new) for recs in side.values() for r in recs}
    if len(keys) > 1:
        print(f"refusing to compare: records differ in (cpus, sf): {sorted(keys)}", file=sys.stderr)
        return 2
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    worse = 0
    for workload in sorted(set(base) & set(new)):
        print(f"{workload}: {len(base[workload])} base runs, {len(new[workload])} new runs")
        for m in spec["end_to_end"]:
            b = [r["end_to_end"][m["name"]] for r in base[workload]]
            n = [r["end_to_end"][m["name"]] for r in new[workload]]
            bm, nm = statistics.median(b), statistics.median(n)
            change = (nm - bm) / bm
            regressed = (change > m["bound"]) if m["better"] == "lower" else (-change > m["bound"])
            worse += regressed
            print(f"  {m['name']:18s} base {bm:10.4f} (spread {spread(b):.3f})  "
                  f"new {nm:10.4f} (spread {spread(n):.3f})  change {change:+.3f} {m['unit']:5s} "
                  f"bound {m['bound']:.2f}{'  WORSE' if regressed else ''}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
