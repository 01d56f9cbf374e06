"""SnackCatalog API tests at parameters the oracle battery does NOT use —
proves the methods are genuinely parametric, with golden values computed
independently via DuckDB (mirroring the reference's golden-file strategy,
FileSystemStreamSpec.scala)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from snackfs_spark.catalog import SnackCatalog
from tests.conftest import SF_ORACLE

PATH_SQL = "'/data/' || source || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt'"


@pytest.fixture(scope="module")
def docs_con():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    yield con
    con.close()


@pytest.fixture(scope="module")
def cat(spark):
    return SnackCatalog(spark, SF_ORACLE)


def test_read_roundtrip_byte_equality(cat, docs_con):
    got = {r["path"]: r["text"] for r in cat.read().collect()}
    want = dict(
        docs_con.execute(f"SELECT {PATH_SQL}, text FROM documents").fetchall()
    )
    assert got == want  # every file reassembles byte-identically


def test_read_range_arbitrary_offsets(cat, docs_con):
    got = {r["path"]: r["data"] for r in cat.read_range(37, 81).collect()}
    want = dict(
        docs_con.execute(
            f"SELECT {PATH_SQL}, substr(text, 38, 81) FROM documents WHERE n_chars > 37"
        ).fetchall()
    )
    assert got == want


def test_tail_arbitrary_n(cat, docs_con):
    got = {r["path"]: r["tail_text"] for r in cat.tail(33).collect()}
    want = dict(
        docs_con.execute(
            f"SELECT {PATH_SQL}, substr(text, greatest(n_chars - 32, 1)) FROM documents"
        ).fetchall()
    )
    assert got == want


def test_stat_and_predicates_on_directory(cat):
    row = cat.stat("/data/src7").collect()
    assert len(row) == 1 and row[0]["is_dir"] is True
    pred = cat.test_predicates("/data/src7").collect()[0]
    assert pred["exists_flag"] and pred["is_directory"] and pred["is_zero"]
    assert cat.stat("/no/such/path").count() == 0


def test_ls_dus_consistency(cat, docs_con):
    (n_files,) = cat.ls("/data/src5").filter(~F.col("is_dir")).agg(
        F.count(F.lit(1))
    ).collect()[0]
    (want_files, want_bytes) = docs_con.execute(
        "SELECT COUNT(*), SUM(n_chars) FROM documents WHERE source = 'src5'"
    ).fetchone()
    assert n_files == want_files
    dus = cat.dus("/data/src5").collect()[0]
    assert dus["bytes"] == want_bytes and dus["files"] == want_files


def test_rename_plan_preserves_suffix(cat):
    plan = cat.rename_plan("/data/src6", "/archive/y2024/src6")
    rows = plan.collect()
    assert all(r["new_path"].startswith("/archive/y2024/src6") for r in rows)
    # subtree root renames too, children keep their relative suffix
    roots = [r for r in rows if r["old_path"] == "/data/src6"]
    assert len(roots) == 1 and roots[0]["new_path"] == "/archive/y2024/src6"
    kids = [r for r in rows if r["old_path"] != "/data/src6"]
    assert kids and all(
        r["new_path"] == "/archive/y2024/src6" + r["old_path"][len("/data/src6"):]
        for r in kids
    )


def test_delete_survivors_then_mkdirs_closure(cat, docs_con):
    survivors = cat.delete_survivors("/data/src8")
    assert survivors.filter(F.col("path").startswith("/data/src8")).count() == 0
    (n8,) = docs_con.execute(
        "SELECT COUNT(*) FROM documents WHERE source = 'src8'"
    ).fetchone()
    assert survivors.count() == cat.files.count() - n8 - 1
    dirs = {r["dir_path"] for r in cat.mkdirs_closure().collect()}
    assert "/" in dirs and "/data" in dirs and "/data/src8" in dirs


def test_block_locations_cover_every_block_exactly_once(cat, spark):
    from snackfs_spark.sources.fsmodel import blocks_df

    locs = cat.block_locations()
    n_blocks = blocks_df(spark, SF_ORACLE).count()
    # wraparound + disjoint ranges => every token maps to exactly one host
    assert locs.count() == n_blocks
    assert locs.select("path", "block_idx").distinct().count() == n_blocks


def test_open_single_file_and_error_semantics(cat, docs_con):
    want = docs_con.execute(
        "SELECT text FROM documents WHERE doc_id = 0"
    ).fetchone()[0]
    got = cat.open("/data/src0/doc_0.txt")
    assert got == want
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        cat.open("/data/src0/doc_999999.txt")
    with _pytest.raises(IsADirectoryError):
        cat.open("/data/src0")


def test_files_view_has_documents_partitions_plus_one(spark, cat, duck):
    """The cached `files` view keeps its bounded directory rows in ONE
    partition, so a lookup over it runs the documents' tasks + 1 instead
    of one task per shuffle partition and per spark.range(1) partition;
    the stat/ls/du answers are the oracle's."""
    import pandas as pd

    from snackfs_spark.sources.fsmodel import fs_sql
    from snackfs_spark.sources.tables import load_table
    from tests.oracle_harness import compare

    docs = load_table(spark, SF_ORACLE, "documents").rdd.getNumPartitions()
    assert cat.files.rdd.getNumPartitions() == docs + 1
    stat_sql = "SELECT path, is_dir, size, owner, grp, permission, mtime FROM files WHERE path = '{}'"
    ls_sql = "SELECT path, name, is_dir, size FROM files WHERE parent_path = '{}'"
    cases = [
        (cat.stat(p), stat_sql.format(p))
        for p in ("/", "/data", "/data/src3", "/data/src0/doc_0.txt")
    ] + [
        (cat.ls(p), ls_sql.format(p)) for p in ("/", "/data", "/data/src2")
    ] + [
        (
            cat.du("/data"),
            "SELECT split_part(path, '/', 3) AS child, sum(size) AS bytes "
            "FROM files WHERE starts_with(path, '/data/') AND NOT is_dir GROUP BY 1",
        )
    ]
    for df, sql in cases:
        got = pd.DataFrame.from_records([tuple(r) for r in df.collect()], columns=df.columns)
        want = duck.execute(fs_sql(sql, "files")).fetchdf()
        assert len(want) and not compare(got, want), sql
