"""Content-plane operators (SURVEY.md §2.B Q-CONTENT/Q-RANGE/Q-TAIL/
Q-MERGE/Q-LEN): the reference's chunked read pipeline
(FileSystemInputStream / BlockInputStream) re-expressed as set-oriented
reassembly over the `content` relation.

The oracle for these is the ORIGINAL `documents.text` — a fully
independent computation path — so any chunking/ordering/trim bug shows up
as a hash mismatch rather than being mirrored in the oracle.

Reassembly is catalog.reassemble_chunks, the one sub-block -> text
mapping (chunking is fsmodel.chunk_text): collect_list(struct(order_key,
payload)) → sort_array → array_join, per block then per file. The sort
happens per group inside the aggregate (no global orderBy), so a 100 TB
content table reassembles each file within its own hash partition —
shuffle is one row per (file, chunk), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snackfs_spark import workdir
from snackfs_spark.catalog import SnackCatalog, reassemble_chunks
from snackfs_spark.registry import register
from snackfs_spark.sources.fsmodel import PATH_SQL, content_df, doc_path, fs_sql

RANGE_START = 100   # Q-RANGE window [100, 250)
RANGE_LEN = 150
TAIL_CHARS = 100    # Q-TAIL (reference uses 1 KB; scaled to the 64-char chunks)


@register(
    "fs_content",
    oracle=f"SELECT {PATH_SQL} AS path, text FROM documents",
)
def fs_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-file reassembly (FileSystemInputStream.scala:78-144; golden
    byte-equality FileSystemStreamSpec.scala:134-202): every file rebuilt
    from its sub-block chunks must equal the source text."""
    return SnackCatalog(spark, sf_dir).read()


@register(
    "fs_range_read",
    oracle=(
        f"SELECT {PATH_SQL} AS path, "
        f"substr(text, {RANGE_START + 1}, {RANGE_LEN}) AS data "
        f"FROM documents WHERE n_chars > {RANGE_START}"
    ),
)
def fs_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random read [start, start+len): seek semantics
    (FileSystemInputStream.scala:45-76, BlockInputStream.scala:42-59).
    Only overlapping chunks are touched — the offset predicate prunes the
    rest, exactly how a seek avoids reading the whole file."""
    return SnackCatalog(spark, sf_dir).read_range(RANGE_START, RANGE_LEN).select(
        "path", "data"
    )


@register(
    "fs_tail",
    oracle=(
        f"SELECT {PATH_SQL} AS path, "
        f"substr(text, greatest(n_chars - {TAIL_CHARS} + 1, 1)) AS tail_text "
        f"FROM documents"
    ),
)
def fs_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tail: last-K read (SnackFSShell.scala:508-534). The per-file start
    offset comes from a max-over-partition window (no second scan, no
    driver round-trip), then the Q-RANGE trim applies."""
    return SnackCatalog(spark, sf_dir).tail(TAIL_CHARS)


@register(
    "fs_getmerge",
    oracle=(
        "SELECT '/data/' || source AS dir, "
        f"string_agg(text, '' ORDER BY {PATH_SQL}) AS merged "
        "FROM documents GROUP BY source"
    ),
)
def fs_getmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getmerge: concatenate a directory's files sorted by name
    (SnackFSShell.scala:608-613). One aggregate per directory; ordering is
    (path, sub_offset) inside the group — no global sort."""
    return SnackCatalog(spark, sf_dir).getmerge()


@register(
    "fs_len_from_blocks",
    oracle=f"SELECT {PATH_SQL} AS path, CAST(n_chars AS BIGINT) AS computed_size FROM documents",
)
def fs_len_from_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File length from nested block metadata (SnackFileStatus.scala:37-43:
    size = sum of block lengths). Builds the INode-shaped nested
    Array(Struct(block, Array(Struct(sub)))) column, then folds it with a
    nested higher-order aggregate — the Spark-native replacement for the
    reference's hand-rolled INode codec (INode.scala:41-141)."""
    c = content_df(spark, sf_dir)
    blocks = c.groupBy("path", "block_idx").agg(
        F.sort_array(F.collect_list(F.struct("sub_idx", "length"))).alias("subs")
    )
    nested = blocks.groupBy("path").agg(
        F.sort_array(F.collect_list(F.struct("block_idx", "subs"))).alias("blocks")
    )
    return nested.select(
        "path",
        F.expr(
            "aggregate(blocks, 0L, (acc, b) -> acc + "
            "aggregate(b.subs, 0L, (a, s) -> a + s.length))"
        ).alias("computed_size"),
    )


@register(
    "fs_connector_roundtrip",
    oracle=f"SELECT {PATH_SQL} AS path, text FROM documents",
)
def fs_connector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full read path through the custom snackstore data source (the
    Cassandra-style KV connector, sources/snackstore.py): documents are
    chunked into the store's sblock layout, read back through
    spark.read.format("snackstore") — bucket-pruned, filter-pushing —
    and reassembled; must equal the original text byte-for-byte.
    Reassembly is the same two-level (sub-block → block → file) concat
    as SnackCatalog.read(), so no intermediate aggregation buffer
    exceeds block size (VERDICT r2 #2)."""
    from snackfs_spark.sources.snackstore import store_for

    root = store_for(spark, sf_dir)
    content = (
        spark.read.format("snackstore").option("store_dir", root).load()
    ).withColumnRenamed("payload", "piece")
    return reassemble_chunks(content)


LS_LIMIT = 5  # pushed-down listing limit for fs_ls_limited


@register(
    "fs_ls_limited",
    oracle=fs_sql(
        "SELECT path, sub_offset, length FROM content "
        f"ORDER BY path, sub_offset LIMIT {LS_LIMIT}",
        "content",
    ),
)
def fs_ls_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Limited metadata listing through the connector's pushed-down limit
    (SupportsPushDownLimit analog; the reference pushes its listing bound
    into the indexed-slice query, ThriftStore.scala:509). The
    `limit` read option stops EACH bucket's reader after N rows — the
    per-bucket emission order is (path, sub_offset)-sorted, so each
    bucket's first N is a superset of the global first N under the same
    order, and the final orderBy+limit is exact. `columns` excludes
    payload, so the listing does zero blob IO on top of early exit."""
    from snackfs_spark.sources.snackstore import store_for

    root = store_for(spark, sf_dir)
    meta = (
        spark.read.format("snackstore")
        .option("store_dir", root)
        .option("columns", "path,sub_offset,length")
        .option("limit", str(LS_LIMIT))
        .load()
    )
    return (
        meta.select("path", "sub_offset", "length")
        .orderBy("path", "sub_offset")
        .limit(LS_LIMIT)
    )


# ---------------------------------------------------------------------------
# `text` verb: decode-to-text of compressed streams (SnackFSShell.scala
# textHelp — "allowed formats are zip and TextRecordInputStream", i.e.
# Hadoop's Text command, which sniffs the payload's MAGIC bytes: 0x1f8b
# -> gzip stream, 'SEQ' -> SequenceFile of Text records, else raw
# passthrough). Re-expressed Spark-first: the fixture stores odd docs
# gzip-compressed, doc_id % 4 == 2 docs as single-entry ZIP archives,
# and the rest plain; a mapInPandas codec does the same magic-sniff +
# REAL gzip/zip decode (zlib/zipfile, stdlib — no external
# dependency). The oracle is the ORIGINAL document text, a
# fully independent path, so a wrong decode (or a wrong sniff) is a
# hash mismatch, not a mirrored bug.
# ---------------------------------------------------------------------------


def _compress_text(batches):
    """(doc_id, text, path) batches -> (path, payload) batches: odd
    doc_ids gzip (mtime=0; level 1 — the decode contract pins the
    DECODED bytes and the magic sniff, both level-independent, and the
    registered query projects stored_bytes out precisely because
    container bytes may vary), doc_id % 4 == 2 deterministic STORED
    ZIP, rest raw utf-8."""
    import gzip
    import io
    import zipfile

    import pandas as pd

    def as_zip(t: str) -> bytes:
        # deterministic archive: fixed entry name/date, STORED (no
        # compressor-version drift in the bytes)
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            info = zipfile.ZipInfo("doc.txt", date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, t)
        return buf.getvalue()

    for pdf in batches:
        payloads = [
            gzip.compress(t.encode(), compresslevel=1, mtime=0)
            if d % 2 == 1
            else (as_zip(t) if d % 4 == 2 else t.encode())
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        yield pd.DataFrame({"path": pdf["path"], "payload": payloads})


def _decode_text(batches):
    """REAL magic-sniffing decoder (Hadoop Text.forMagic semantics —
    the reference's textHelp names "zip and TextRecordInputStream"):
    0x1f8b -> gzip.decompress; 'PK\x03\x04' -> ZIP archive (all entries
    decoded and concatenated in archive order, stdlib zipfile); 'SEQ'
    -> SequenceFile (refused loudly — the fixture never writes one, and
    silently mis-decoding it would be worse than failing); anything
    else -> raw utf-8 passthrough."""
    import gzip
    import hashlib
    import io
    import zipfile

    import pandas as pd

    for pdf in batches:
        paths, codecs, n_in, n_out, md5s = [], [], [], [], []
        for path, payload in zip(pdf["path"], pdf["payload"]):
            buf = bytes(payload)
            if buf[:2] == b"\x1f\x8b":
                decoded = gzip.decompress(buf)
                codec = "gzip"
            elif buf[:4] == b"PK\x03\x04":
                with zipfile.ZipFile(io.BytesIO(buf)) as zf:
                    decoded = b"".join(zf.read(n) for n in zf.namelist())
                codec = "zip"
            elif buf[:3] == b"SEQ":
                raise ValueError(f"{path}: SequenceFile decode not supported")
            else:
                decoded = buf
                codec = "plain"
            paths.append(path)
            codecs.append(codec)
            n_in.append(len(buf))
            n_out.append(len(decoded))
            md5s.append(hashlib.md5(decoded).hexdigest())
        yield pd.DataFrame(
            {
                "path": paths,
                "codec": codecs,
                "stored_bytes": pd.Series(n_in, dtype="int64"),
                "text_bytes": pd.Series(n_out, dtype="int64"),
                "text_md5": md5s,
            }
        )


@register(
    "fs_text_decode",
    oracle=f"""
    SELECT {PATH_SQL} AS path,
           CASE WHEN doc_id % 2 = 1 THEN 'gzip'
                WHEN doc_id % 4 = 2 THEN 'zip'
                ELSE 'plain' END AS codec,
           CAST(octet_length(encode(text)) AS BIGINT) AS text_bytes,
           md5(text) AS text_md5
    FROM documents
    """,
)
def fs_text_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shell's `text` verb end-to-end: magic-sniff + gzip decode of
    stored payloads, hash-checked against the ORIGINAL text (decoded
    md5 equals the source md5 only if the round-trip is exact).
    stored_bytes is projected out of the registered query because
    gzip output size is zlib-version-dependent — the decode contract
    (codec choice, decoded length, decoded bytes) is what's pinned.

    Optimization r11 (guide §4): the storage fixture (_compress_text)
    and the decoder (_decode_text) run FUSED in one mapInPandas — the
    payload bytes previously crossed the JVM<->Python Arrow boundary
    twice (compress out, decode in) for no plan benefit; the two
    generators stay separate, unit-tested functions, and the decode
    still sniffs real container bytes."""
    from pyspark.sql import types as T

    from snackfs_spark.sources.tables import load_table

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("codec", T.StringType()),
            T.StructField("stored_bytes", T.LongType()),
            T.StructField("text_bytes", T.LongType()),
            T.StructField("text_md5", T.StringType()),
        ]
    )
    docs = load_table(spark, sf_dir, "documents").select(
        doc_path().alias("path"), "doc_id", "text"
    )

    def fused(batches):
        yield from _decode_text(_compress_text(batches))

    out = docs.mapInPandas(fused, schema=schema)
    return out.select("path", "codec", "text_bytes", "text_md5")


def _corpus_shards(spark: SparkSession, sf_dir: str, fmt: str, shards: int, **options) -> str:
    """Materialize (once per fixture and layout) the documents table as
    ``shards`` files of format ``fmt`` in the work dir (workdir.py);
    later calls reuse them."""
    from snackfs_spark.sources.tables import load_table

    def write(out: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .repartition(shards)
            .write.mode("overwrite")
            .options(**options)
            .format(fmt)
            .save(out)
        )

    return workdir.build_once(workdir.cache_dir(fmt, sf_dir, shards, options), write)


def jsonl_shards_for(spark: SparkSession, sf_dir: str) -> str:
    """The corpus as gzip-compressed JSONL shards — the standard
    training-data interchange layout (one JSON object per line, N
    shards, gzip per shard)."""
    return _corpus_shards(spark, sf_dir, "json", 8, compression="gzip")


@register(
    "corpus_jsonl_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def corpus_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format roundtrip: export the corpus as gzipped JSONL
    shards (the lingua franca of LLM training data) and read it back
    through Spark's JSON source with an explicit schema — every field
    must survive JSON escaping and the gzip codec byte-exact, which is
    what the oracle (the original table) checks.

    Scale: the JSON source splits per shard (gzip is not splittable —
    the write controls shard count, which IS the read parallelism knob
    a real pipeline turns), the explicit schema skips inference's extra
    pass, and the roundtrip is embarrassingly parallel — no shuffle in
    either direction beyond the sharding repartition."""
    out = jsonl_shards_for(spark, sf_dir)
    schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    return spark.read.schema(schema).json(out).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def csv_shards_for(spark: SparkSession, sf_dir: str) -> str:
    """The corpus as UNCOMPRESSED, space-delimited CSV shards. Space as
    the delimiter is deliberate: every text cell contains spaces, so the
    writer must quote every one and the reader must unquote — the
    roundtrip exercises the quote/escape path on 100% of rows instead of
    the 0% a comma would touch on this corpus."""
    return _corpus_shards(spark, sf_dir, "csv", 4, header="true", sep=" ", quoteAll="true")


@register(
    "corpus_csv_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def corpus_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format roundtrip #2: the corpus through quoted CSV
    with a header row and back, hash-checked against the source table.
    Complements `corpus_jsonl_roundtrip` on the axes that differ: CSV
    quoting/escaping instead of JSON string escaping, and an
    UNCOMPRESSED container — which, unlike the gzip shards, splits at
    line boundaries, so read parallelism comes from
    `spark.sql.files.maxPartitionBytes`, not the shard count chosen at
    write time. The explicit schema skips inference's extra pass."""
    out = csv_shards_for(spark, sf_dir)
    schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("sep", " ")
        .csv(out)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


def orc_shards_for(spark: SparkSession, sf_dir: str) -> str:
    """The corpus as zlib ORC shards — the third interchange container
    next to gzip-JSONL and quoted CSV, and the only one that is BOTH
    compressed and splittable (ORC stripes carry their own index, so
    read parallelism survives compression — the property neither gzip
    JSONL nor single-shard CSV has)."""
    return _corpus_shards(spark, sf_dir, "orc", 4, compression="zlib")


@register(
    "corpus_orc_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def corpus_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format roundtrip #3: the corpus through zlib ORC and
    back, hash-checked against the source table — the columnar
    interchange container (typed schema travels with the file, stripes
    split under compression, predicate pushdown works on read). Rounds
    out the format matrix: row-oriented compressed (gzip JSONL),
    row-oriented splittable (CSV), columnar compressed+splittable
    (ORC), engine-native (parquet everywhere else).

    Scale: a pure scan — correctness is the byte-exactness of every
    field through the ORC writer/reader; read parallelism = stripe
    count, independent of the write-time shard count."""
    out = orc_shards_for(spark, sf_dir)
    return spark.read.orc(out).select("doc_id", "text", "lang", "source", "n_chars")
