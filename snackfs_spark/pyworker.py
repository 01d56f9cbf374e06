"""Python task-worker daemon: Spark's stock daemon with Spark's own
archives taken off the worker import path.

Spark puts `$SPARK_HOME/python/lib/pyspark.zip`, the py4j source zip and
the spark-core jar at the front of every worker's PYTHONPATH. Every task
starts with `importlib.invalidate_caches()`, and under CPython 3.11 each
`zipimporter` re-reads its whole archive directory on that call: ~250 ms
per task on local[4] (DESIGN.md, "Python worker floor"). When the same
pyspark is importable without the archives, this daemon drops them
before pyspark is imported, so the forked workers hold no zipimporter.
`get_spark` selects it through `spark.python.daemon.module`.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def worker_path(path: list[str], spark_home: str) -> list[str]:
    """`path` without the .zip/.jar entries under `spark_home`, when
    pyspark and py4j resolve on what is left and that pyspark's
    version.py is byte-identical to the one in Spark's pyspark.zip;
    otherwise `path` unchanged."""
    if not spark_home:
        return list(path)
    home = os.path.realpath(spark_home)
    archives = [
        p for p in path
        if p.endswith((".zip", ".jar"))
        and os.path.commonpath([home, os.path.realpath(p)]) == home
    ]
    shipped = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if p not in archives]
    if not shipped or PathFinder.find_spec("py4j", rest) is None:
        return list(path)
    pyspark = PathFinder.find_spec("pyspark", rest)
    if pyspark is None or pyspark.origin is None:
        return list(path)
    try:
        with zipfile.ZipFile(shipped[0]) as zf:
            expected = zf.read("pyspark/version.py")
        with open(os.path.join(os.path.dirname(pyspark.origin), "version.py"), "rb") as f:
            found = f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    return rest if found == expected else list(path)


if __name__ == "__main__":
    kept = worker_path(sys.path, os.environ.get("SPARK_HOME", ""))
    # start-up imports already made zipimporters for the dropped archives
    for dropped in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(dropped, None)
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
