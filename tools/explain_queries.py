"""Capture `.explain("formatted")` output for named queries.

Usage: python tools/explain_queries.py OUTDIR [SUFFIX] name1 name2 ...

Writes OUTDIR/<name>_<SUFFIX>.txt (default SUFFIX: "before"): plan
evidence for a change, e.g. plans/<round>/<query>_before.txt and
_after.txt. Plan dumps are regenerated on demand, not tracked
(.gitignore). Runs at sf0.01 (or $SPARK_GRAFT_SF_DIR) on local[8]; the
tables are read in the bench's layout (tables.load_table picks it from
the fixture and the core count), so plan shapes are comparable.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from snackfs_spark.registry import load_all  # noqa: E402
from snackfs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    outdir = Path(sys.argv[1])
    args = sys.argv[2:]
    suffix = "before"
    if args and args[0] in ("before", "after"):
        suffix, args = args[0], args[1:]
    outdir.mkdir(parents=True, exist_ok=True)
    reg = load_all()
    spark = get_spark("explain_queries", cpus=8)
    for name in args:
        df = reg[name].fn(spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (outdir / f"{name}_{suffix}.txt").write_text(txt)
        print(f"wrote {outdir / f'{name}_{suffix}.txt'}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
