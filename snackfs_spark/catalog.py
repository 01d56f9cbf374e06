"""SnackCatalog: the user-facing filesystem/analytics API — the PySpark
re-expression of the reference's FileSystem + shell surface
(SnackFS.scala dispatch + SnackFSShell.scala verbs), parameterized by
path. Every method returns a lazily-planned DataFrame; nothing collects.

The registered oracle queries in operators/fsops.py and
operators/content.py are fixed-constant bindings of these methods, so
the catalog itself is what the correctness gate exercises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snackfs_spark.sources import fsmodel


def ordered_concat(*order_cols: str) -> F.Column:
    """Order-correct string concat inside a groupBy aggregate: sort the
    collected (key..., piece) structs per group — no global sort."""
    cols = [F.col(c) for c in order_cols] + [F.col("piece")]
    return F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct(*cols))),
            lambda s: s.getField("piece"),
        ),
        "",
    )


def reassemble_chunks(chunks: DataFrame) -> DataFrame:
    """THE sub-block -> text mapping: (path, sub_offset, piece) rows ->
    (path, text). Two levels, mirroring the reference's block hierarchy
    (BlockInputStream reads per block, never whole-file buffers):
    sub-blocks concat into block rows first, so every intermediate
    aggregation buffer is bounded at BLOCK_CHARS, and only the per-file
    assembly sees block-sized pieces. Any chunk source works — the
    content view, the writer's output, the snackstore connector — since
    block_idx is re-derived from the offset."""
    blocks = _block_pieces(chunks)
    return blocks.groupBy("path").agg(ordered_concat("block_idx").alias("text"))


def _block_pieces(chunks: DataFrame) -> DataFrame:
    block_idx = F.expr(f"sub_offset div {fsmodel.BLOCK_CHARS}").alias("block_idx")
    return chunks.groupBy("path", block_idx).agg(
        ordered_concat("sub_offset").alias("piece")
    )


def in_subtree(path: str) -> F.Column:
    """`path` is `path` itself or lies under it (a prefix range scan)."""
    return F.col("path").startswith(path + "/") | (F.col("path") == path)


def moved_path(src: str, dst: str) -> F.Column:
    """A subtree path with its `src` prefix replaced by `dst` — anchored
    substring arithmetic, not replaceFirst (avoids the reference's
    mid-path collision hazard at RenameCommand.scala:52)."""
    return F.concat(F.lit(dst), F.expr(f"substring(path, {len(src) + 1})"))


class SnackCatalog:
    """Metadata + content queries over the files/content/locks/ring
    relations (sources/fsmodel.py). One instance per (session, dataset).
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    # ---- relations -------------------------------------------------

    @property
    def files(self) -> DataFrame:
        return fsmodel.files_df(self.spark, self.sf_dir)

    @property
    def content(self) -> DataFrame:
        return fsmodel.content_df(self.spark, self.sf_dir)

    @property
    def locks(self) -> DataFrame:
        return fsmodel.locks_df(self.spark, self.sf_dir)

    # ---- metadata operators (reference: FileStatusCommand, ListCommand,
    # ---- FsShell du/dus/count/test/stat) ---------------------------

    def stat(self, path: str) -> DataFrame:
        """getFileStatus (FileStatusCommand.scala:34-48): point lookup."""
        return self.files.filter(F.col("path") == path).select(
            "path", "is_dir", "size", "owner", "grp", "permission", "mtime"
        )

    def ls(self, path: str) -> DataFrame:
        """listStatus (ListCommand.scala:50-51): one equi-filter on
        parent_path — not the reference's N+1 point gets."""
        return self.files.filter(F.col("parent_path") == path).select(
            "path", "name", "is_dir", "size"
        )

    def lsr(self, path: str) -> DataFrame:
        """Deep listing (ThriftStore.scala:482,534-540): prefix range scan."""
        return self.files.filter(in_subtree(path)).select("path", "is_dir", "size")

    def du(self, path: str) -> DataFrame:
        """Per-child subtree byte totals (FsShell.du; SnackFSShellSpec
        asserted totals)."""
        depth = len([p for p in path.split("/") if p]) + 1
        return (
            self.files.filter(
                F.col("path").startswith(path + "/") & ~F.col("is_dir")
            )
            .groupBy(F.expr(f"split_part(path, '/', {depth + 1})").alias("child"))
            .agg(F.sum("size").alias("bytes"))
        )

    def dus(self, path: str) -> DataFrame:
        """Single subtree total (SnackFSShell.scala:368-370)."""
        return self.files.filter(in_subtree(path) & ~F.col("is_dir")).agg(
            F.sum("size").alias("bytes"), F.count(F.lit(1)).alias("files")
        )

    def count(self, path: str) -> DataFrame:
        """#dirs / #files / bytes under path (SnackFSShell.scala:536-548)."""
        return self.files.filter(in_subtree(path)).agg(
            F.sum(F.when(F.col("is_dir"), 1).otherwise(0)).alias("dir_count"),
            F.sum(F.when(F.col("is_dir"), 0).otherwise(1)).alias("file_count"),
            F.sum(F.when(F.col("is_dir"), 0).otherwise(F.col("size"))).alias(
                "content_size"
            ),
        )

    def count_quota(self, path: str) -> DataFrame:
        """count -q (SnackFSShell.scala:536-548, qOption=true): Hadoop's
        ContentSummary.toString(true) prepends QUOTA / REM_QUOTA /
        SPACE_QUOTA / REM_SPACE_QUOTA to the count columns. The
        reference never sets quotas (no setQuota path anywhere in
        SnackFS), so the summary renders the unset markers — 'none' for
        the quota, 'inf' for the remainder — exactly as HDFS does for
        quota-less directories."""
        return self.count(path).select(
            F.lit("none").alias("quota"),
            F.lit("inf").alias("rem_quota"),
            F.lit("none").alias("space_quota"),
            F.lit("inf").alias("rem_space_quota"),
            "dir_count",
            "file_count",
            "content_size",
            F.lit(path).alias("pathname"),
        )

    def test_predicates(self, path: str) -> DataFrame:
        """test -e/-z/-d (SnackFSShell.scala:679-681)."""
        f = self.files.filter(F.col("path") == path)
        return f.agg(
            (F.count(F.lit(1)) > 0).alias("exists_flag"),
            (F.coalesce(F.max(F.when(F.col("size") == 0, 1).otherwise(0)), F.lit(0)) == 1)
            .alias("is_zero"),
            (F.coalesce(F.max(F.when(F.col("is_dir"), 1).otherwise(0)), F.lit(0)) == 1)
            .alias("is_directory"),
        )

    # ---- namespace mutations as plans (rename/delete/mkdirs) -------

    def rename_plan(self, src: str, dst: str) -> DataFrame:
        """Subtree path rewrite (RenameCommand.scala:42-59)."""
        return self.files.filter(in_subtree(src)).select(
            F.col("path").alias("old_path"),
            moved_path(src, dst).alias("new_path"),
            "is_dir",
            "size",
        )

    def delete_survivors(self, path: str) -> DataFrame:
        """Recursive delete (DeleteCommand.scala:34-75) as the surviving
        set — one prefix-predicate rewrite, no per-node recursion."""
        return self.files.filter(~in_subtree(path))

    def mkdirs_closure(self) -> DataFrame:
        """All ancestor dirs of all files (MakeDirectoryCommand.scala:59-76)
        in one pass: explode depth, slice, distinct."""
        f = self.files.filter(~F.col("is_dir"))
        parts = F.split(F.col("path"), "/")
        return (
            f.select(
                F.explode(F.sequence(F.lit(2), F.size(parts))).alias("d"),
                parts.alias("parts"),
            )
            .select(
                F.when(F.col("d") == 2, F.lit("/"))
                .otherwise(F.array_join(F.slice(F.col("parts"), 1, F.col("d") - 1), "/"))
                .alias("dir_path")
            )
            .distinct()
        )

    # ---- content operators (reference: stream classes + shell cat/
    # ---- tail/getmerge) --------------------------------------------

    def read(self) -> DataFrame:
        """Full-file reassembly for every file
        (FileSystemInputStream.scala:78-144): (path, text), through the
        two-level reassemble_chunks — with the reference's real sizes
        (8 MB sub-blocks, 128 MB blocks) a single-level concat would
        collect every sub-block of a multi-GB file into one aggregation
        buffer; the hierarchy bounds that at 16 structs per block row
        (VERDICT r2 #2)."""
        return reassemble_chunks(self.content.withColumnRenamed("payload", "piece"))

    def open(self, path: str) -> str:
        """Open ONE file and return its reassembled content, with the
        reference's error semantics (OpenFileCommand.scala:43-59):
        missing path → FileNotFoundError; directory → IsADirectoryError.
        The existence check and the read are each a pushed point filter."""
        st = self.stat(path).collect()
        if not st:
            raise FileNotFoundError(path)
        if st[0]["is_dir"]:
            raise IsADirectoryError(path)
        rows = self.read().filter(F.col("path") == path).collect()
        return rows[0]["text"] if rows else ""

    def read_range(self, start: int, length: int) -> DataFrame:
        """Random range read [start, start+length) per file (seek
        semantics, BlockInputStream.scala:42-59): only overlapping chunks
        are touched."""
        lo, hi = start, start + length
        c = self.content.filter(
            (F.col("sub_offset") + F.col("length") > lo) & (F.col("sub_offset") < hi)
        )
        return (
            c.select(
                "path",
                "sub_offset",
                F.expr(
                    f"substring(payload, cast(greatest({lo} - sub_offset, 0) + 1 as int), "
                    f"cast(least({hi} - sub_offset, length) - greatest({lo} - sub_offset, 0) as int))"
                ).alias("piece"),
            )
            .groupBy("path")
            .agg(ordered_concat("sub_offset").alias("data"))
            .filter(F.length("data") > 0)
        )

    def tail(self, n: int) -> DataFrame:
        """Last-n read per file (SnackFSShell.scala:508-534); file size
        from a max-over window, then the range trim."""
        w = Window.partitionBy("path")
        c = self.content.withColumn(
            "fsize", F.max(F.col("sub_offset") + F.col("length")).over(w)
        )
        return (
            c.filter(F.col("sub_offset") + F.col("length") > F.greatest(F.col("fsize") - n, F.lit(0)))
            .select(
                "path",
                "sub_offset",
                F.expr(
                    f"substring(payload, cast(greatest(greatest(fsize - {n}, 0) - sub_offset, 0) + 1 as int))"
                ).alias("piece"),
            )
            .groupBy("path")
            .agg(ordered_concat("sub_offset").alias("tail_text"))
        )

    def getmerge(self) -> DataFrame:
        """Per-directory ordered concat (SnackFSShell.scala:608-613).
        Same first level as read(): sub-blocks roll up into block rows,
        so only the final per-directory assembly (the output row,
        inherently directory-sized) handles large strings."""
        blocks = _block_pieces(self.content.withColumnRenamed("payload", "piece"))
        parts = F.split(F.col("path"), "/")
        return (
            blocks.withColumn("dir", F.array_join(F.slice(parts, 1, 3), "/"))
            .groupBy("dir")
            .agg(ordered_concat("path", "block_idx").alias("merged"))
        )

    # ---- locality / locks ------------------------------------------

    def block_locations(self) -> DataFrame:
        """Token-ring interval match (ThriftStore.scala:543-605)."""
        b = fsmodel.blocks_df(self.spark, self.sf_dir)
        return fsmodel.place(self.spark, self.sf_dir, b).select("path", "block_idx", "host")

    # ---- path utilities ---------------------------------------------

    @staticmethod
    def resolve(cwd: str, rel: str) -> str:
        """Relative-path resolution against a working directory
        (SnackFS.scala:75-83 resolves against /user/<name>): absolute
        paths pass through; '.'/'..' segments normalize."""
        raw = rel if rel.startswith("/") else f"{cwd.rstrip('/')}/{rel}"
        parts: list[str] = []
        for seg in raw.split("/"):
            if seg in ("", "."):
                continue
            if seg == "..":
                if parts:
                    parts.pop()
                continue
            parts.append(seg)
        return "/" + "/".join(parts)

    def ls_glob(self, path: str, like: str) -> DataFrame:
        """Glob listing (SnackFSShell.scala:272): LIKE predicate in the
        listing scan."""
        return self.ls(path).filter(F.col("name").like(like))

    def lock_holders(self) -> DataFrame:
        """First-attempt-wins lock arbitration (ThriftStore.scala:655-671)."""
        w = Window.partitionBy("path").orderBy("ts", "event_id")
        return (
            self.locks.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("path", "holder", "ts")
        )
