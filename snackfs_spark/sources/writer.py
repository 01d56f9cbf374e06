"""Write path (SURVEY.md §2.A.3 / §3.2): the reference's chunking output
stream re-expressed as declarative Spark jobs.

Reference semantics reproduced:
  - fixed-size sub-block slicing at ingest (FileSystemOutputStream.scala:
    55-101: buffer, flush every subBlockSize bytes) and the block rollup
    (:103-120): fsmodel.chunk_text, the one text -> sub-block mapping,
    re-exported here; reassembly is catalog.reassemble_chunks
  - metadata (INode/files row) committed ONCE per job — not re-upserted
    per block like the reference (its O(blocks²) write amplification,
    :103-120, is a bug we deliberately do not reproduce)
  - append SUPPORTED: the reference throws "Appending to existing file is
    not supported" (AppendFileCommand.scala:32-41); here appended chunks
    continue the existing offset sequence (chunk_text from the old size)
  - put/copyFromLocal (SnackFSShell.scala:601-607): binaryFile ingest
  - cp (SnackFSShell.scala:464-500): subtree copy = path rewrite over
    metadata + content, no byte re-chunking
  - touchz (SnackFSShell.scala:380-382): zero-length metadata row —
    like every empty file, a `files` row with no chunk rows

All writers parallelize by file: chunk expansion happens in the scan
projection (no shuffle), and output parquet is partitioned so a file's
chunks colocate — the property that makes reassembly shuffle-light.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snackfs_spark.catalog import in_subtree, moved_path
from snackfs_spark.sources.fsmodel import BLOCK_CHARS, chunk_text


def files_metadata(df: DataFrame, path_col: str = "path", text_col: str = "text") -> DataFrame:
    """One metadata row per file, committed once per job (vs. the
    reference's per-block INode re-upsert)."""
    return df.select(
        F.col(path_col).alias("path"),
        F.expr(
            f"substring({path_col}, 1, length({path_col}) - "
            f"length(substring_index({path_col}, '/', -1)) - 1)"
        ).alias("parent_path"),
        F.substring_index(path_col, "/", -1).alias("name"),
        F.lit(False).alias("is_dir"),
        F.length(text_col).cast("long").alias("size"),
        F.ceil(F.length(text_col) / BLOCK_CHARS).cast("long").alias("n_blocks"),
    )


def write_fs_tables(
    files: DataFrame, content: DataFrame, out_dir: str, buckets: int = 8
) -> None:
    """Persist the filesystem tables. Content is hash-distributed by path
    and sorted (path, sub_offset) within partitions, so every file's
    chunks are contiguous in one partition — reassembly needs no global
    sort. At 100 TB, `buckets` scales with the cluster; the layout
    contract is the same."""
    (
        content.repartition(buckets, "path")
        .sortWithinPartitions("path", "sub_offset")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/content")
    )
    files.repartition(max(1, buckets // 4)).write.mode("overwrite").parquet(
        f"{out_dir}/files"
    )


def ingest_texts(df: DataFrame, out_dir: str) -> None:
    """create/put for (path, text) rows: chunk + metadata + commit."""
    write_fs_tables(files_metadata(df), chunk_text(df), out_dir)


def ingest_binary_dir(spark: SparkSession, local_dir: str, fs_prefix: str = "/ingest") -> DataFrame:
    """put/copyFromLocal (SnackFSShell.scala:601-607): read a local
    directory through the binaryFile source and map to (path, text) rows
    (payloads decoded as utf-8 for the text content model; binary
    payloads keep the same layout via operators/multimodal.py)."""
    raw = spark.read.format("binaryFile").load(f"{local_dir}/*")
    return raw.select(
        F.concat(
            F.lit(fs_prefix + "/"), F.element_at(F.split("path", "/"), -1)
        ).alias("path"),
        F.decode("content", "utf-8").alias("text"),
    )


def append_text(existing_content: DataFrame, additions: DataFrame) -> DataFrame:
    """append (refused by the reference, AppendFileCommand.scala:32-41;
    supported here): new chunks continue each file's offset sequence.
    additions = (path, text) rows for files already in existing_content;
    an empty addition adds no rows."""
    tail = existing_content.groupBy("path").agg(
        F.max(F.col("sub_offset") + F.col("length")).alias("old_size")
    )
    joined = additions.join(tail, "path", "left").na.fill({"old_size": 0})
    return existing_content.unionByName(chunk_text(joined, base=F.col("old_size")))


def touchz(files: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Zero-length file creation (SnackFSShell touchz): metadata-only row."""
    parent = path.rsplit("/", 1)[0] or "/"
    name = path.rsplit("/", 1)[-1]
    new_row = spark.range(1).select(
        F.lit(path).alias("path"),
        F.lit(parent).alias("parent_path"),
        F.lit(name).alias("name"),
        F.lit(False).alias("is_dir"),
        F.lit(0).cast("long").alias("size"),
        F.lit(0).cast("long").alias("n_blocks"),
    )
    return files.unionByName(new_row, allowMissingColumns=True)


def cp_subtree(files: DataFrame, content: DataFrame, src: str, dst: str):
    """cp -r (SnackFSShell.scala:464-500): metadata + content path rewrite
    under the destination prefix. Chunks are copied as-is (no re-chunk)."""
    in_src, rewrite = in_subtree(src), moved_path(src, dst)
    new_files = files.filter(in_src).withColumn("path", rewrite)
    new_content = content.filter(in_src).withColumn("path", rewrite)
    return files.unionByName(new_files, allowMissingColumns=True), content.unionByName(
        new_content
    )


def compact_content(spark: SparkSession, out_dir: str, target_files: int = 8) -> int:
    """Small-file compaction for the content table — the operational
    analog of the reference's sblock compaction thresholds
    (ThriftStore.scala:229-234). Rewrites the content directory into
    `target_files` range-partitioned files sorted by (path, sub_offset),
    restoring the locality contract after many small append jobs.
    Returns the file count after compaction."""
    path = f"{out_dir}/content"
    df = spark.read.parquet(path)
    tmp = f"{out_dir}/content_compacting"
    (
        df.repartitionByRange(target_files, "path", "sub_offset")
        .sortWithinPartitions("path", "sub_offset")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    # atomic-ish swap (single-writer maintenance op, like a compaction task)
    import shutil

    shutil.rmtree(path)
    shutil.move(tmp, path)
    return len(spark.read.parquet(path).inputFiles())


def save_bucketed(
    df: DataFrame, table: str, keys: list[str], buckets: int = 8
) -> None:
    """Persist a DataFrame as a bucketed+sorted table so later equi-joins
    on `keys` are co-located (no shuffle on either pre-bucketed side).
    The scale story for materialized dedup signatures: compute MinHash
    bands once, store them bucketed by (band, band_sig), and every
    incremental batch joins against the stored corpus without ever
    reshuffling it."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )
