"""The session factory's Python worker set-up: the daemon that keeps
Spark's own archives off the worker import path (pyworker.worker_path)
and the workers' PYTHONPATH, which must find the package from any cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

from snackfs_spark.pyworker import worker_path

_REPO = Path(__file__).resolve().parent.parent
VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path: Path, members: dict[str, bytes]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _package(root: Path, name: str, files: dict[str, bytes]) -> None:
    pkg = root / name
    pkg.mkdir(parents=True, exist_ok=True)
    (pkg / "__init__.py").write_bytes(b"")
    for fname, data in files.items():
        (pkg / fname).write_bytes(data)


def _layout(tmp_path: Path, site_version: bytes | None = VERSION):
    """A fake $SPARK_HOME with its three archives, and a site dir holding
    pyspark (with `site_version` as its version.py; None: no pyspark) and
    py4j."""
    home = tmp_path / "spark"
    archives = [
        _zip(home / "python/lib/pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION}),
        _zip(home / "python/lib/py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        _zip(home / "jars/spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": b""}),
    ]
    site = tmp_path / "site"
    _package(site, "py4j", {})
    if site_version is not None:
        _package(site, "pyspark", {"version.py": site_version})
    return str(home), archives, str(site)


def test_matching_version_drops_spark_archives_keeping_order(tmp_path):
    home, archives, site = _layout(tmp_path)
    app, stdlib = str(tmp_path / "app"), str(tmp_path / "stdlib")
    path = [app, *archives, stdlib, site]
    assert worker_path(path, home) == [app, stdlib, site]


def test_mismatched_version_leaves_path_unchanged(tmp_path):
    home, archives, site = _layout(tmp_path, site_version=b'__version__: str = "4.0.0"\n')
    path = [str(tmp_path / "app"), *archives, site]
    assert worker_path(path, home) == path


def test_no_pyspark_outside_archives_leaves_path_unchanged(tmp_path):
    home, archives, site = _layout(tmp_path, site_version=None)
    path = [str(tmp_path / "app"), *archives, site]
    assert worker_path(path, home) == path


def test_no_py4j_outside_archives_leaves_path_unchanged(tmp_path):
    home, archives, _ = _layout(tmp_path)
    bare = tmp_path / "bare"
    _package(bare, "pyspark", {"version.py": VERSION})
    path = [*archives, str(bare)]
    assert worker_path(path, home) == path


def test_entries_outside_spark_home_are_never_touched(tmp_path):
    home, archives, site = _layout(tmp_path)
    user_zip = _zip(tmp_path / "deps/user.zip", {"userlib/__init__.py": b""})
    user_jar = _zip(tmp_path / "deps/user.jar", {"META-INF/MANIFEST.MF": b""})
    path = [user_zip, *archives, user_jar, site]
    assert worker_path(path, home) == [user_zip, user_jar, site]
    # with no (or another) SPARK_HOME, nothing is an archive of Spark's
    assert worker_path(path, "") == path
    assert worker_path(path, str(tmp_path / "deps")) == path


def test_package_import_loads_no_pyspark():
    """`python -m snackfs_spark.pyworker` runs the package's __init__
    before the daemon trims sys.path, so it must not import pyspark."""
    code = "import sys, snackfs_spark; print(sorted(m for m in sys.modules if 'pyspark' in m))"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_task_workers_import_pyspark_off_spark_archives(spark):
    """A Python task sees none of $SPARK_HOME's archives on sys.path,
    holds no zipimporter for the per-task invalidate_caches() to re-read,
    and runs the driver's pyspark version."""
    import pyspark

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        home = os.path.realpath(os.environ["SPARK_HOME"])
        archives = [
            p for p in sys.path
            if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home + os.sep)
        ]
        zipimporters = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {"archives": [";".join(archives)], "zipimporters": [zipimporters],
             "version": [pyspark.__version__]}
        )

    schema = "archives string, zipimporters long, version string"
    rows = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()
    assert [tuple(r) for r in rows] == [("", 0, pyspark.__version__)]


def test_workers_import_the_package_outside_the_repo_root():
    """From a cwd outside the repo, with no PYTHONPATH, a stage running a
    module-level snackfs_spark function still finds the package."""
    code = (
        f"import sys; sys.path.insert(0, {str(_REPO)!r})\n"
        "from snackfs_spark.session import get_spark\n"
        "from snackfs_spark.operators.content import _compress_text\n"
        "spark = get_spark('cwd_probe', cpus=1)\n"
        "docs = spark.range(1).selectExpr(\"'/d/0' AS path\", 'id AS doc_id', \"'abc' AS text\")\n"
        "rows = docs.mapInPandas(_compress_text, 'path string, payload binary').collect()\n"
        "print('ROWS', [(r.path, bytes(r.payload)) for r in rows])\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS [('/d/0', b'abc')]" in out.stdout
