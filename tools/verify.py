"""One-command verification drive: run registered queries against their
DuckDB oracles at one or more scale factors, the same comparison the
round driver's CORRECTNESS gate performs.

Usage: python tools/verify.py [sf|fixture_dir|query ...] [--window N] [--skip N]
       (default: 0.01 0.1 over the whole registry)

A token that is a registered query name restricts the run to the named
queries; a token containing '/' is a fixture directory (e.g. var/sf1, the
10x key-shifted replica of sf0.1 from tools/make_scale_fixture.py); any
other token is a scale factor. --window N limits the run to the driver's
first-N correctness window — the sf1 spot-replica is
    python tools/make_scale_fixture.py var/sf1 10
    python tools/verify.py var/sf1 --window 50
Rows are compared as tests/oracle_harness.py canonicalises them, the
tier-1 replica's rule. A mismatch prints what differs (columns, row
count or values) and, for values, the first differing rows of each side.
Exit code 0 iff every oracled query hash-matches at every sf.
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

import __spark_entry__ as e  # noqa: E402
from snackfs_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare, duckdb_connection  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    window = None
    skip = 0
    if "--window" in argv:
        i = argv.index("--window")
        window = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    # --skip N drops the first N registered queries: pair with --window
    # runs to split a long sweep (e.g. the window is already green at a
    # fixture, verify only the rest there) without re-running the head.
    if "--skip" in argv:
        i = argv.index("--skip")
        skip = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    qs, osql = e.queries(), e.oracle_sql()
    named = [a for a in argv if a in qs]
    sfs = [a for a in argv if a not in qs] or ["0.01", "0.1"]
    unknown = [a for a in sfs if "/" not in a and not a.replace(".", "", 1).isdigit()]
    if unknown:
        sys.exit(f"verify.py: not a query, sf or fixture dir: {' '.join(unknown)}")
    names = (named or list(qs))[skip : skip + window if window is not None else None]
    spark = get_spark("verify", cpus=8)
    print("entry rows:", len(e.entry(spark).collect()))
    failed = False
    for sf in sfs:
        sf_dir = sf if "/" in sf else f"/root/testdata/sf{sf}"
        con = duckdb_connection(sf_dir)
        bad = []
        for name in names:
            sp = qs[name](spark, sf_dir).toPandas()
            if name not in osql:
                continue
            problems = compare(sp, con.execute(osql[name]).fetchdf())
            if problems:
                bad.append(name)
                print(f"sf{sf} {name}: {'; '.join(problems)}")
        print(f"sf{sf} checked {sum(n in osql for n in names)} oracled queries")
        print(f"sf{sf} MISMATCHES:", bad or "none")
        failed = failed or bool(bad)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
