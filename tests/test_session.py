"""The session factory's Python worker set-up: the daemon that keeps
Spark's own archives off the worker import path (pyworker.worker_path),
the same trim inside Spark's planner workers (pyworker.trim_worker), and
the workers' PYTHONPATH, which must find the package from any cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from importlib.machinery import FileFinder
from pathlib import Path

from snackfs_spark.pyworker import trim_worker, worker_path

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


def _importer_cache(tmp_path: Path, archives: list[str], site: str) -> tuple[dict, dict]:
    """A fake sys.path_importer_cache: zipimporters for Spark's archives
    and for package paths inside pyspark.zip (what a worker holds after
    importing pyspark from the zip), and the entries that must survive."""
    pyspark_zip = archives[0]
    spark = {p: zipimport.zipimporter(p) for p in archives}
    for sub in ("pyspark", "pyspark/sql", "pyspark/sql/worker"):
        spark[os.path.join(pyspark_zip, sub)] = zipimport.zipimporter(os.path.join(pyspark_zip, sub))
    user_zip = _zip(tmp_path / "deps/user.zip", {"userlib/__init__.py": b""})
    others = {
        site: FileFinder(site),
        user_zip: zipimport.zipimporter(user_zip),
        str(tmp_path / "gone"): None,
    }
    return spark, others


def _worker_env(home: str) -> dict[str, str]:
    return {"SPARK_HOME": home, "PYTHON_WORKER_FACTORY_SECRET": "s3cret"}


def test_trim_worker_drops_spark_archive_importers(tmp_path):
    home, archives, site = _layout(tmp_path)
    spark, others = _importer_cache(tmp_path, archives, site)
    app = str(tmp_path / "app")
    path = [app, *archives, site]
    cache = {**spark, **others}
    trim_worker(path, cache, _worker_env(home))
    assert path == [app, site]
    assert cache == others


def test_trim_worker_is_a_noop_unless_it_can_drop_spark_archives(tmp_path):
    """A mismatched version.py, a process outside a Spark worker (the
    driver) and archives outside $SPARK_HOME leave path and cache as
    they are."""
    home, archives, site = _layout(tmp_path)
    _, _, other_site = _layout(tmp_path / "other", site_version=b'__version__: str = "4.0.0"\n')
    spark, others = _importer_cache(tmp_path, archives, site)
    cases = [
        ([*archives, other_site], _worker_env(home)),
        ([*archives, site], {"SPARK_HOME": home}),
        ([*archives, site], _worker_env(str(tmp_path / "deps"))),
    ]
    for start, env in cases:
        path, cache = list(start), {**spark, **others}
        trim_worker(path, cache, env)
        assert (path, cache) == (start, {**spark, **others}), env


def test_importing_snackstore_leaves_the_driver_path_alone(monkeypatch):
    """Outside a worker, importing the snackstore source trims nothing,
    even with Spark's archives and their zipimporters on the path."""
    import snackfs_spark.sources as sources
    from snackfs_spark.sources import snackstore

    archives = sorted(str(p) for p in Path(os.environ["SPARK_HOME"], "python", "lib").glob("*.zip"))
    assert archives
    for var in ("PYTHON_WORKER_FACTORY_SECRET", "PYTHON_UNIX_DOMAIN_ENABLED"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(sys, "path", [*archives, *sys.path])
    for a in archives:
        monkeypatch.setitem(sys.path_importer_cache, a, zipimport.zipimporter(a))
    path, cache = list(sys.path), dict(sys.path_importer_cache)

    # run the module's top level again, then put the loaded one back
    monkeypatch.setattr(sources, "snackstore", snackstore)
    monkeypatch.delitem(sys.modules, snackstore.__name__)
    importlib.import_module(snackstore.__name__)
    assert sys.path == path
    assert sys.path_importer_cache == cache


def test_planner_workers_drop_spark_archive_importers(spark, tmp_path):
    """Spark's planner workers start from its stock daemon; importing the
    snackstore source (to unpickle the data source) trims them, so a
    later read's define runs in a worker holding no zipimporter."""
    from snackfs_spark.sources.snackstore import SnackStoreDataSource, register

    class PlannerProbe(SnackStoreDataSource):
        # defined in the test, so cloudpickle ships it by value and the
        # worker imports only its base's module
        @classmethod
        def name(cls) -> str:
            return "snackstore_planner_probe"

        def schema(self) -> str:
            import os
            import sys
            import zipimport

            held = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
            with open(self.options["probe"], "a") as f:
                f.write(f"{os.getpid()} {held}\n")
            return super().schema()

    register(spark)
    spark.dataSource.register(PlannerProbe)
    store, probe = str(tmp_path / "store"), tmp_path / "probe.txt"
    row = spark.createDataFrame([("/p/a", 0, 1, "a")], "path string, sub_offset bigint, length bigint, payload string")
    row.write.format("snackstore").option("store_dir", store).mode("overwrite").save()
    for _ in range(2):
        df = spark.read.format("snackstore_planner_probe").option("store_dir", store).option("probe", str(probe)).load()
        assert [tuple(r) for r in df.collect()] == [("/p/a", 0, 1, "a")]
    calls = [tuple(map(int, line.split())) for line in probe.read_text().splitlines()]
    assert len(calls) == 2
    assert calls[1][0] != os.getpid()
    assert calls[1][1] == 0, calls


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
