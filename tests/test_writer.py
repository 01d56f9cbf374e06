"""Write-path tests (M2): chunk → persist → reassemble roundtrips, append
continuation, binary-dir ingest, touchz, cp — mirroring the reference's
golden byte-equality strategy (FileSystemStreamSpec.scala:46-202)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snackfs_spark.sources import writer


@pytest.fixture(scope="module")
def var(tmp_path_factory):
    return tmp_path_factory.mktemp("test_writer")


def _reassemble(content):
    return content.groupBy("path").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub_offset", "payload"))),
                lambda s: s.getField("payload"),
            ),
            "",
        ).alias("text")
    )


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        ("/w/a.txt", "x" * 100),                  # partial sub-block tail
        ("/w/b.txt", "ab" * 320),                 # multiple blocks (640)
        ("/w/c.txt", "z"),                        # single char
        ("/w/d.txt", "".join(chr(97 + i % 26) for i in range(257))),  # 1 past block
    ]
    return spark.createDataFrame(rows, "path string, text string")


def test_chunk_write_read_roundtrip(spark, texts, var):
    writer.ingest_texts(texts, str(var / "rt"))
    content = spark.read.parquet(str(var / "rt/content"))
    files = spark.read.parquet(str(var / "rt/files"))
    got = {r["path"]: r["text"] for r in _reassemble(content).collect()}
    want = {r["path"]: r["text"] for r in texts.collect()}
    assert got == want
    meta = {r["path"]: (r["size"], r["n_blocks"]) for r in files.collect()}
    assert meta["/w/b.txt"] == (640, 3)  # ceil(640/256)
    assert meta["/w/c.txt"] == (1, 1)
    # chunk layout invariants (reference block model)
    bad = content.filter(
        (F.col("length") > 64)
        | (F.col("sub_offset") % 64 != 0)
        | (F.col("block_idx") != F.floor(F.col("sub_offset") / 256))
    )
    assert bad.count() == 0


def test_append_continues_offsets(spark, texts):
    base = writer.chunk_text(texts)
    additions = spark.createDataFrame(
        [("/w/a.txt", "TAIL" * 10), ("/w/c.txt", "!!")],
        "path string, text string",
    )
    merged = writer.append_text(base, additions)
    got = {r["path"]: r["text"] for r in _reassemble(merged).collect()}
    assert got["/w/a.txt"] == "x" * 100 + "TAIL" * 10
    assert got["/w/c.txt"] == "z" + "!!"
    assert got["/w/b.txt"] == "ab" * 320  # untouched files intact
    # appended chunks continue, never overlap
    a = merged.filter(F.col("path") == "/w/a.txt").orderBy("sub_offset").collect()
    offsets = [(r["sub_offset"], r["length"]) for r in a]
    for (o1, l1), (o2, _) in zip(offsets, offsets[1:]):
        assert o1 + l1 == o2


def test_empty_text_has_no_chunks(spark):
    df = spark.createDataFrame(
        [("/e/empty.txt", ""), ("/e/one.txt", "z")], "path string, text string"
    )
    chunks = writer.chunk_text(df)
    assert chunks.filter(F.col("path") == "/e/empty.txt").count() == 0
    assert chunks.count() == 1
    meta = {r["path"]: r["n_blocks"] for r in writer.files_metadata(df).collect()}
    assert meta == {"/e/empty.txt": 0, "/e/one.txt": 1}


def test_append_of_empty_text_adds_no_rows(spark, texts):
    base = writer.chunk_text(texts)
    additions = spark.createDataFrame(
        [("/w/a.txt", ""), ("/w/new.txt", "")], "path string, text string"
    )
    merged = writer.append_text(base, additions)
    assert merged.count() == base.count()
    assert merged.exceptAll(base).count() == 0


def test_chunk_text_is_the_content_view(spark):
    """The content view is chunk_text over the documents, row for row."""
    from snackfs_spark.sources import fsmodel
    from snackfs_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    chunks = writer.chunk_text(docs, fsmodel.doc_path(), "text")
    view = fsmodel.content_df(spark, SF_SMALL)
    assert chunks.columns == view.columns
    assert chunks.count() == view.count() > 0
    assert chunks.exceptAll(view).count() == 0
    assert view.exceptAll(chunks).count() == 0


def test_ingest_binary_dir_roundtrip(spark, var):
    src = var / "localdir"
    src.mkdir(parents=True, exist_ok=True)
    (src / "one.txt").write_text("hello parquet world")
    (src / "two.txt").write_text("second file" * 30)
    df = writer.ingest_binary_dir(spark, str(src), fs_prefix="/ingest")
    writer.ingest_texts(df, str(var / "bin"))
    content = spark.read.parquet(str(var / "bin/content"))
    got = {r["path"]: r["text"] for r in _reassemble(content).collect()}
    assert got == {
        "/ingest/one.txt": "hello parquet world",
        "/ingest/two.txt": "second file" * 30,
    }


def test_touchz_and_cp(spark, texts):
    files = writer.files_metadata(texts)
    files2 = writer.touchz(files, spark, "/w/empty.marker")
    row = files2.filter(F.col("path") == "/w/empty.marker").collect()
    assert len(row) == 1 and row[0]["size"] == 0 and row[0]["name"] == "empty.marker"

    content = writer.chunk_text(texts)
    f3, c3 = writer.cp_subtree(files2, content, "/w", "/backup/w")
    got = {r["path"]: r["text"] for r in _reassemble(c3).collect()}
    assert got["/backup/w/b.txt"] == "ab" * 320 and got["/w/b.txt"] == "ab" * 320
    assert f3.filter(F.col("path") == "/backup/w/empty.marker").count() == 1


def test_compact_content_preserves_bytes(spark, texts, var):
    writer.ingest_texts(texts, str(var / "cmp"), )
    before = {r["path"]: r["text"] for r in _reassemble(
        spark.read.parquet(str(var / "cmp/content"))).collect()}
    n_files = writer.compact_content(spark, str(var / "cmp"), target_files=2)
    assert n_files <= 2
    after = {r["path"]: r["text"] for r in _reassemble(
        spark.read.parquet(str(var / "cmp/content"))).collect()}
    assert after == before


def test_streaming_ingest_foreachbatch(spark, texts, var):
    src = var / "stream_src"
    texts.write.mode("overwrite").parquet(str(src))
    from snackfs_spark.streaming.ingest import stream_ingest_documents

    stream_ingest_documents(spark, str(src), str(var / "stream_out"))
    content = spark.read.parquet(str(var / "stream_out/content"))
    got = {r["path"]: r["text"] for r in _reassemble(content).collect()}
    want = {r["path"]: r["text"] for r in texts.collect()}
    assert got == want


def test_chunk_roundtrip_property(spark):
    """Property-based: chunk -> reassemble is identity for arbitrary
    text, including empty, whitespace-only, exact-boundary, and unicode
    payloads (the reference pins this only with two golden files,
    FileSystemStreamSpec.scala:46-132)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_categories=("Cs",)
                ),
                max_size=700,
            ),
            min_size=1,
            max_size=6,
            unique=True,
        )
    )
    def check(payloads):
        rows = [(f"/p/f{i}.txt", t) for i, t in enumerate(payloads)]
        df = spark.createDataFrame(rows, "path string, text string")
        content = writer.chunk_text(df)
        # Read back the way SnackCatalog.open does: every file has a
        # files row, and one with no chunks reads as "".
        files = writer.files_metadata(df).select("path", "n_blocks")
        back = files.join(_reassemble(content), "path", "left").na.fill({"text": ""})
        got = {r["path"]: r["text"] for r in back.collect()}
        assert got == {p: t for p, t in rows}
        chunked = {r["path"] for r in content.select("path").distinct().collect()}
        assert chunked == {p for p, t in rows if t}  # empty text: no chunks

    check()
