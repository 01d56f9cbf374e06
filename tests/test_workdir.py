"""The work dir's rules (snackfs_spark/workdir.py): one cache key over the
fixture's table files, the layout parameters and the format version, and
one reuse rule (a dir is reused only once its completion marker exists)."""

from __future__ import annotations

import os
import shutil

from snackfs_spark import workdir
from snackfs_spark.sources import tables
from tests.conftest import SF_SMALL


def _fixture(parent, name="sf0.01"):
    """A fake fixture: every table file, with sizes the key can see."""
    d = parent / name
    d.mkdir(parents=True)
    for i, table in enumerate(tables.TABLES):
        (d / f"{table}.parquet").write_bytes(b"x" * (1024 * (i + 1)))
    return d


def test_key_separates_fixtures_with_one_basename(tmp_path):
    a = _fixture(tmp_path / "a")
    b = tmp_path / "b" / "sf0.01"
    shutil.copytree(a, b)  # copies keep each file's size and mtime
    key = workdir.fixture_key(str(a))
    assert key.startswith("sf0.01-")
    assert workdir.fixture_key(str(b)) == key
    assert workdir.fixture_key(str(b) + "/") == key

    with open(b / "orders.parquet", "ab") as f:
        f.write(b"more rows")
    grown = workdir.fixture_key(str(b))
    assert grown != key
    st = os.stat(b / "lineitem.parquet")
    os.utime(b / "lineitem.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert workdir.fixture_key(str(b)) not in (key, grown)
    assert workdir.fixture_key(str(a)) == key


def test_key_covers_layout_and_format_version(tmp_path, monkeypatch):
    d = str(_fixture(tmp_path))
    # ingest split counts per table: at 4 cores, and at 2 (capped)
    four = {"lineitem": 4, "orders": 3}
    two = {"lineitem": 2, "orders": 2}
    assert workdir.fixture_key(d, four) != workdir.fixture_key(d, two)
    assert workdir.fixture_key(d, 8) != workdir.fixture_key(d, 16)  # store buckets
    assert workdir.cache_dir("json", d, 8, {"compression": "gzip"}) != workdir.cache_dir(
        "json", d, 4, {"compression": "gzip"}
    )

    key = workdir.fixture_key(d, four)
    monkeypatch.setattr(workdir, "FORMAT_VERSION", workdir.FORMAT_VERSION + 1)
    assert workdir.fixture_key(d, four) != key


def test_build_once_reuses_only_marked_dirs(tmp_path):
    writes = []

    def write(out):
        writes.append(out)
        os.makedirs(out, exist_ok=True)
        open(os.path.join(out, f"part-{len(writes)}"), "w").close()

    out = str(tmp_path / "kind" / "key")
    assert workdir.build_once(out, write) == out
    assert workdir.is_built(out) and len(writes) == 1
    workdir.build_once(out, write)
    assert len(writes) == 1
    os.remove(os.path.join(out, "_SUCCESS"))  # an interrupted write
    workdir.build_once(out, write)
    assert len(writes) == 2 and workdir.is_built(out)


def test_store_for_rewrites_an_unmarked_store(spark, tmp_path, monkeypatch):
    """A store dir with data files but no marker (a build that died after
    writing) is rewritten with mode("overwrite") and then marked; a
    marked store is reused as it is."""
    from snackfs_spark.sources.snackstore import store_for

    monkeypatch.setattr(workdir, "ROOT", str(tmp_path))

    def rows(root):
        return spark.read.format("snackstore").option("store_dir", root).load().count()

    root = store_for(spark, SF_SMALL)
    assert root.startswith(str(tmp_path / "snackstore" / "sf0.001-"))
    assert workdir.is_built(root)
    n = rows(root)
    assert n > 0

    os.remove(os.path.join(root, "_SUCCESS"))
    stale = os.path.join(root, "bucket=0", "sblock-stale.arrow")
    with open(stale, "wb") as f:
        f.write(b"a dead task's segment")
    assert store_for(spark, SF_SMALL) == root
    assert not os.path.exists(stale)
    assert workdir.is_built(root)
    assert rows(root) == n

    kept = os.path.join(root, "kept")
    open(kept, "w").close()
    assert store_for(spark, SF_SMALL) == root
    assert os.path.exists(kept)


def test_ingest_root_is_the_redirectable_join(spark, tmp_path, monkeypatch):
    """perfbench sends every ingest to a fresh dir by rewriting the one
    ``tables.os.path.join`` whose first argument ends in ``/var/ingest``;
    the ingest, and every read of a split copy, must form its root
    through exactly that call."""

    class _Path:
        def __getattr__(self, name):
            return getattr(os.path, name)

        @staticmethod
        def join(first, *rest):
            if first.rstrip("/").endswith("/var/ingest"):
                first = str(tmp_path)
            return os.path.join(first, *rest)

    class _Os:
        path = _Path()

        def __getattr__(self, name):
            return getattr(os, name)

    monkeypatch.setattr(tables, "os", _Os())
    monkeypatch.setattr(tables, "SPLIT_BYTES", 64 * 1024)
    root = tables.build_ingest_cache(spark, SF_SMALL)
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("sf0.001-")
    built = sorted(p for p in os.listdir(root) if workdir.is_built(os.path.join(root, p)))
    assert built, os.listdir(root)
    files = tables.load_table(spark, SF_SMALL, built[0].removesuffix(".parquet")).inputFiles()
    assert files and all(str(tmp_path) in f for f in files), files
