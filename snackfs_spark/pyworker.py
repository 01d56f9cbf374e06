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

Spark starts its Python Data Source planner workers from its own fixed
`pyspark.daemon`, which that setting does not reach; those workers trim
themselves with `trim_worker` when they import the snackstore source.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

# Spark's worker factory gives every Python worker process one of these:
# the auth secret over TCP, the flag over a Unix domain socket.
_WORKER_ENV = ("PYTHON_WORKER_FACTORY_SECRET", "PYTHON_UNIX_DOMAIN_ENABLED")


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


def trim_worker(
    path: list[str] | None = None,
    cache: dict | None = None,
    environ: dict[str, str] | None = None,
) -> None:
    """In a Spark Python worker process, make `path` (default `sys.path`)
    the `worker_path` kept path and drop from `cache` (default
    `sys.path_importer_cache`) every zipimporter cached for a dropped
    archive or for a path inside one (`.../pyspark.zip/pyspark/sql`).
    Outside a worker (no `_WORKER_ENV` variable: the driver) a no-op."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    environ = os.environ if environ is None else environ
    if not any(v in environ for v in _WORKER_ENV):
        return
    kept = worker_path(path, environ.get("SPARK_HOME", ""))
    dropped = tuple(p for p in path if p not in kept)
    if not dropped:
        return
    inside = tuple(p + os.sep for p in dropped)
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and (
            key in dropped or key.startswith(inside)
        ):
            del cache[key]
    path[:] = kept


if __name__ == "__main__":
    trim_worker()
    from pyspark.daemon import manager

    manager()
