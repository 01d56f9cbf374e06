"""Filesystem metadata operators (SURVEY.md §2.B, Q-STAT..Q-MKDIR).

Each reproduces a reference capability as one declarative plan over the
derived `files` relation (sources/fsmodel.py). Where the reference does
N+1 point gets or client-side recursion, these are single scans with
pushed-down predicates — the shapes that survive a 100 TB metadata table
partitioned by path prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snackfs_spark.catalog import SnackCatalog
from snackfs_spark.registry import register
from snackfs_spark.sources.fsmodel import (
    MTIME_SQL,
    PATH_SQL,
    content_df,
    doc_mtime,
    doc_path,
    files_df,
    fs_sql,
)
from snackfs_spark.functions import md5_bucket, ts_str
from snackfs_spark.sources.tables import load_table

STAT_PATH = "/data/src2/doc_42.txt"
LS_DIR = "/data/src0"
SUBTREE = "/data/src1"
RENAME_SRC = "/data/src2"
RENAME_DST = "/data/archive/src2"
DELETE_TARGET = "/data/src3"


@register(
    "fs_stat",
    oracle=fs_sql(
        f"""SELECT path, is_dir, size, owner, grp, permission,
                   strftime(mtime, '%Y-%m-%d %H:%M:%S.%f') AS mtime
            FROM files WHERE path = '{STAT_PATH}'""",
        "files",
    ),
)
def fs_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getFileStatus: point metadata lookup (FileStatusCommand.scala:34-48).
    A single pushed-down equality predicate; with the files table
    partitioned/bucketed by path prefix this touches one partition."""
    return SnackCatalog(spark, sf_dir).stat(STAT_PATH).withColumn(
        "mtime", ts_str("mtime")
    )


@register(
    "fs_ls",
    oracle=fs_sql(
        f"""SELECT path, name, is_dir, size FROM files
            WHERE parent_path = '{LS_DIR}'""",
        "files",
    ),
)
def fs_ls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listStatus: shallow listing via the parent_path equality predicate
    (ListCommand.scala:50-51; secondary index ThriftStore.scala:487) —
    one equi-filter instead of the reference's N+1 per-child gets."""
    return SnackCatalog(spark, sf_dir).ls(LS_DIR)


@register(
    "fs_lsr",
    oracle=fs_sql(
        f"""SELECT path, is_dir, size FROM files
            WHERE path LIKE '{SUBTREE}/%' OR path = '{SUBTREE}'""",
        "files",
    ),
)
def fs_lsr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsr / deep listing: the reference's prefix range scan
    (path > p AND path < p-plus, ThriftStore.scala:482,534-540).
    startswith compiles to a range predicate Catalyst pushes to parquet."""
    return SnackCatalog(spark, sf_dir).lsr(SUBTREE)


@register(
    "fs_du",
    oracle=fs_sql(
        """SELECT split_part(path, '/', 3) AS child, CAST(SUM(size) AS BIGINT) AS bytes
           FROM files WHERE path LIKE '/data/%' AND NOT is_dir
           GROUP BY split_part(path, '/', 3)""",
        "files",
    ),
)
def fs_du(spark: SparkSession, sf_dir: str) -> DataFrame:
    """du: per-child subtree totals (SnackFSShell.scala:365-367; asserted
    totals SnackFSShellSpec.scala:160-173). Group-by with map-side partial
    aggregation — cardinality = #children, not #files."""
    return SnackCatalog(spark, sf_dir).du("/data")


@register(
    "fs_dus",
    oracle=fs_sql(
        f"""SELECT CAST(SUM(size) AS BIGINT) AS bytes, COUNT(*) AS files
            FROM files WHERE (path LIKE '{SUBTREE}/%' OR path = '{SUBTREE}')
            AND NOT is_dir""",
        "files",
    ),
)
def fs_dus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dus: single subtree total (SnackFSShell.scala:368-370)."""
    return SnackCatalog(spark, sf_dir).dus(SUBTREE)


@register(
    "fs_count",
    oracle=fs_sql(
        """SELECT CAST(SUM(CASE WHEN is_dir THEN 1 ELSE 0 END) AS BIGINT) AS dir_count,
                  CAST(SUM(CASE WHEN is_dir THEN 0 ELSE 1 END) AS BIGINT) AS file_count,
                  CAST(SUM(CASE WHEN is_dir THEN 0 ELSE size END) AS BIGINT) AS content_size
           FROM files WHERE path LIKE '/data/%' OR path = '/data'""",
        "files",
    ),
)
def fs_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count: #dirs, #files, total bytes under a path
    (SnackFSShell.scala:536-548) — one multi-aggregate scan."""
    return SnackCatalog(spark, sf_dir).count("/data")


@register(
    "fs_count_quota",
    oracle=fs_sql(
        """SELECT 'none' AS quota, 'inf' AS rem_quota,
                  'none' AS space_quota, 'inf' AS rem_space_quota,
                  CAST(SUM(CASE WHEN is_dir THEN 1 ELSE 0 END) AS BIGINT) AS dir_count,
                  CAST(SUM(CASE WHEN is_dir THEN 0 ELSE 1 END) AS BIGINT) AS file_count,
                  CAST(SUM(CASE WHEN is_dir THEN 0 ELSE size END) AS BIGINT) AS content_size,
                  '/data' AS pathname
           FROM files WHERE path LIKE '/data/%' OR path = '/data'""",
        "files",
    ),
)
def fs_count_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count -q: the quota-prefixed ContentSummary (SnackFSShell.scala
    :536-548 with qOption) — same one-scan aggregate as fs_count, plus
    the none/inf unset-quota markers SnackFS always reports (it has no
    quota support)."""
    return SnackCatalog(spark, sf_dir).count_quota("/data")


@register(
    "fs_rename",
    oracle=fs_sql(
        f"""SELECT path AS old_path,
                   '{RENAME_DST}' || substr(path, {len(RENAME_SRC) + 1}) AS new_path,
                   is_dir, size
            FROM files WHERE path LIKE '{RENAME_SRC}/%' OR path = '{RENAME_SRC}'""",
        "files",
    ),
)
def fs_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rename: subtree path rewrite (RenameCommand.scala:42-59). Anchored
    prefix replacement via substring arithmetic — deliberately NOT
    replaceFirst, avoiding the reference's mid-path collision hazard
    (RenameCommand.scala:52) for paths with repeated components."""
    return SnackCatalog(spark, sf_dir).rename_plan(RENAME_SRC, RENAME_DST)


@register(
    "fs_delete",
    oracle=fs_sql(
        f"""SELECT COUNT(*) AS survivors, CAST(SUM(size) AS BIGINT) AS surviving_bytes
            FROM files
            WHERE NOT (path LIKE '{DELETE_TARGET}/%' OR path = '{DELETE_TARGET}')""",
        "files",
    ),
)
def fs_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delete -r: recursive subtree delete (DeleteCommand.scala:34-75) as a
    single prefix-predicate rewrite — the surviving set — instead of the
    reference's depth-first per-node recursion. On a transactional table
    this is one DELETE WHERE prefix-match."""
    return SnackCatalog(spark, sf_dir).delete_survivors(DELETE_TARGET).agg(
        F.count(F.lit(1)).alias("survivors"),
        F.sum("size").alias("surviving_bytes"),
    )


@register(
    "fs_mkdirs",
    oracle=fs_sql(
        """SELECT DISTINCT
             CASE WHEN d = 2 THEN '/'
                  ELSE array_to_string(list_slice(string_split(path, '/'), 1, d - 1), '/')
             END AS dir_path
           FROM (
             SELECT path, unnest(range(2, len(string_split(path, '/')) + 1)) AS d
             FROM files WHERE NOT is_dir
           )""",
        "files",
    ),
)
def fs_mkdirs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mkdirs: ancestor-chain generation (MakeDirectoryCommand.scala:59-76).
    The reference walks the parent chain per call; here all ancestor dirs
    of all files materialize in one pass: explode depth, slice, distinct."""
    return SnackCatalog(spark, sf_dir).mkdirs_closure()


@register(
    "fs_test_predicates",
    oracle=fs_sql(
        f"""SELECT
             CAST(COUNT(*) > 0 AS BOOLEAN) AS exists_flag,
             CAST(COALESCE(MAX(CASE WHEN size = 0 THEN 1 ELSE 0 END), 0) = 1 AS BOOLEAN) AS is_zero,
             CAST(COALESCE(MAX(CASE WHEN is_dir THEN 1 ELSE 0 END), 0) = 1 AS BOOLEAN) AS is_directory
           FROM files WHERE path = '{STAT_PATH}'""",
        "files",
    ),
)
def fs_test_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """test -e/-z/-d: boolean predicates over one path
    (SnackFSShell.scala:679-681)."""
    return SnackCatalog(spark, sf_dir).test_predicates(STAT_PATH)


@register(
    "fs_stat_format",
    oracle=fs_sql(
        """SELECT path, name,
                  CAST(ceil(size / 256.0) AS BIGINT) AS size_in_blocks,
                  strftime(mtime, '%Y-%m-%d %H:%M:%S') AS mtime_str
           FROM files WHERE NOT is_dir AND parent_path = '/data/src4'""",
        "files",
    ),
)
def fs_stat_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stat with format fields %b %n %y (SnackFSShell.scala:682-688):
    projection + date formatting, no scan beyond the listing predicate."""
    f = files_df(spark, sf_dir)
    return f.filter(~F.col("is_dir") & (F.col("parent_path") == "/data/src4")).select(
        "path",
        "name",
        F.ceil(F.col("size") / 256.0).cast("long").alias("size_in_blocks"),
        F.date_format("mtime", "yyyy-MM-dd HH:mm:ss").alias("mtime_str"),
    )


GLOB_PATTERN = "doc_1%.txt"          # SQL LIKE form of glob doc_1*.txt


@register(
    "fs_ls_glob",
    oracle=fs_sql(
        f"""SELECT path, name, size FROM files
            WHERE parent_path = '{LS_DIR}' AND name LIKE '{GLOB_PATTERN}'""",
        "files",
    ),
)
def fs_ls_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ls with glob expansion (SnackFSShell.scala:272 globStatus): the
    glob compiles to a LIKE/regex predicate evaluated in the same listing
    scan — no per-candidate existence checks."""
    return (
        SnackCatalog(spark, sf_dir)
        .ls(LS_DIR)
        .filter(F.col("name").like(GLOB_PATTERN))
        .select("path", "name", "size")
    )


_UPSERTS_SQL = f"""WITH upserts AS (
      SELECT {PATH_SQL} AS path,
             CAST(n_chars AS BIGINT) AS size,
             {MTIME_SQL} AS mtime
      FROM documents
      UNION ALL
      SELECT {PATH_SQL},
             CAST(n_chars + 1000 AS BIGINT),
             {MTIME_SQL} + INTERVAL 1 HOUR
      FROM documents WHERE doc_id % 7 = 0
    )"""


def _upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timestamped upsert log of fs_lww_snapshot and fs_scd2_history:
    every file at its mtime, plus a second generation, 1000 chars larger
    and an hour later, of each doc_id % 7 == 0 (a re-written file)."""
    docs = load_table(spark, sf_dir, "documents")
    gen0 = docs.select(
        doc_path().alias("path"),
        F.col("n_chars").cast("long").alias("size"),
        doc_mtime().alias("mtime"),
    )
    gen1 = docs.filter(F.col("doc_id") % 7 == 0).select(
        doc_path().alias("path"),
        (F.col("n_chars") + 1000).cast("long").alias("size"),
        F.timestamp_add("HOUR", F.lit(1), doc_mtime()).alias("mtime"),
    )
    return gen0.unionAll(gen1)


@register(
    "fs_lww_snapshot",
    oracle=f"""
    {_UPSERTS_SQL}
    SELECT path, size, strftime(mtime, '%Y-%m-%d %H:%M:%S.%f') AS mtime,
           n_versions FROM (
      SELECT path, size, mtime,
             ROW_NUMBER() OVER (PARTITION BY path ORDER BY mtime DESC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY path) AS BIGINT) AS n_versions
      FROM upserts
    ) WHERE rn = 1
    """,
)
def fs_lww_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins snapshot over a timestamped upsert log — the
    reference's storeINode semantics (client-timestamped batch_mutate,
    ThriftStore.scala:281-301, LWW at read time) recomputed analytically:
    latest row per path by mtime (SURVEY §1.3's declared mapping). One
    window over the path partition; at scale the upsert log is a real
    table and this is the compaction/snapshot query (or a Delta MERGE
    upstream). A second generation for doc_id % 7 == 0 simulates
    re-written files."""
    from pyspark.sql import Window

    upserts = _upserts(spark, sf_dir)
    w = Window.partitionBy("path")
    return (
        upserts.withColumn("rn", F.row_number().over(w.orderBy(F.col("mtime").desc())))
        .withColumn("n_versions", F.count(F.lit(1)).over(w).cast("long"))
        .filter(F.col("rn") == 1)
        .select("path", "size", ts_str("mtime").alias("mtime"), "n_versions")
    )


@register(
    "fs_scd2_history",
    oracle=f"""
    {_UPSERTS_SQL}
    SELECT path, size,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           strftime(mtime, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           COALESCE(strftime(LEAD(mtime) OVER w, '%Y-%m-%d %H:%M:%S.%f'),
                    'CURRENT') AS valid_to,
           LEAD(mtime) OVER w IS NULL AS is_current
    FROM upserts
    WINDOW w AS (PARTITION BY path ORDER BY mtime)
    """,
)
def fs_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 version history over the timestamped upsert log — the
    companion of fs_lww_snapshot: instead of compacting to the latest row
    per path (the reference's LWW read, ThriftStore.scala:281-301), emit
    EVERY version with its validity interval [valid_from, valid_to) via a
    lead() window, the open end marked 'CURRENT'. This is the audit/
    time-travel view a metadata store needs once overwrites exist.

    Scale shape: one window over the path partition (same shuffle key as
    the snapshot query — on a real deployment both share a path-
    partitioned layout so neither exchanges at all). Version chains are
    per-path and short, so no partition skew."""
    from pyspark.sql import Window

    upserts = _upserts(spark, sf_dir)
    w = Window.partitionBy("path").orderBy("mtime")
    nxt = F.lead("mtime").over(w)
    return upserts.select(
        "path",
        "size",
        F.row_number().over(w).cast("long").alias("version"),
        ts_str("mtime").alias("valid_from"),
        F.coalesce(ts_str(nxt), F.lit("CURRENT")).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# Compaction target: group small files into ~16-block bundles
# (reference compaction constants ThriftStore.scala:229-234; block is
# 256 chars in the scaled model, sources/fsmodel.py) — the small-files
# remedy every object-store metadata layer needs.
COMPACTION_TARGET = 4096


@register(
    "fs_compaction_plan",
    oracle=fs_sql(
        f"""SELECT parent_path,
                   CAST(off // {COMPACTION_TARGET} AS BIGINT) AS compaction_group,
                   CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(size) AS BIGINT) AS group_bytes,
                   MIN(name) AS first_file,
                   MAX(name) AS last_file
            FROM (
              SELECT parent_path, name, size,
                     SUM(size) OVER (PARTITION BY parent_path
                                     ORDER BY name
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) - size AS off
              FROM files WHERE NOT is_dir
            )
            GROUP BY parent_path, CAST(off // {COMPACTION_TARGET} AS BIGINT)""",
        "files",
    ),
)
def fs_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: bin-pack each directory's files
    (in name order) into target-size groups by bucketing the exclusive
    prefix-sum of sizes — every group holds consecutive files totalling
    ~COMPACTION_TARGET bytes (one file may straddle a boundary; the
    greedy rule is deterministic, so the plan is reproducible). The
    analog of the reference's sub-block compaction thresholds
    (ThriftStore.scala:229-234) lifted to whole files — the operation a
    100 TB ingest runs nightly so downstream scans see block-sized
    objects instead of millions of tiny ones.

    Scale shape: one window partitioned by directory (the metadata
    table's natural partition key, so on a path-partitioned layout the
    sort is partition-local — no global exchange), then a groupBy on
    (dir, group) that map-side-combines. Directory fan-in bounds window
    partition size; a pathological million-file flat directory is the
    same skew problem as any hot key (salt by name prefix)."""
    from pyspark.sql import Window

    f = files_df(spark, sf_dir).filter(~F.col("is_dir"))
    w = (
        Window.partitionBy("parent_path")
        .orderBy("name")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = (F.sum("size").over(w) - F.col("size")).alias("off")
    planned = f.select("parent_path", "name", "size", off)
    return (
        planned.groupBy(
            "parent_path",
            F.expr(f"off div {COMPACTION_TARGET}").alias("compaction_group"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size").alias("group_bytes"),
            F.min("name").alias("first_file"),
            F.max("name").alias("last_file"),
        )
    )


# ------------------------------------------------------------------ fsck ----
#
# The reference's write path commits sblock content BEFORE the INode row
# (FileSystemOutputStream.scala:103-120), so a crashed writer leaks
# orphaned sblocks; a lost metadata commit after an append leaves the
# INode size stale; a dropped sblock mutation loses a chunk while the
# INode still claims the bytes. `fs_fsck` is the offline consistency
# scan a 100 TB store needs: ONE pass over the metadata relation, ONE
# pass over the chunk index, one hash-partitioned full-outer join on
# path — no point reads, no driver loops.
#
# The derived store is consistent by construction, so the checker is
# exercised through deterministic fault injection (md5-bucket selections
# applied IDENTICALLY in both engines); the classifier itself is written
# independently per engine, so a wrong classification is an oracle hash
# mismatch, not a mirrored bug.

FSCK_STALE_SHRINK = 37  # bytes "lost" by a stale-INode append


@register(
    "fs_fsck",
    oracle=fs_sql(
        f"""
        , inodes AS (
            SELECT path,
                   CASE WHEN ('0x' || substr(md5(path), 1, 15))::BIGINT % 19 = 11
                        THEN greatest(size - {FSCK_STALE_SHRINK}, 0)
                        ELSE size END AS recorded
            FROM files
            WHERE NOT is_dir
              AND ('0x' || substr(md5(path), 1, 15))::BIGINT % 13 <> 3
        ), chunks AS (
            SELECT path,
                   COUNT(*) AS n_chunks,
                   SUM(length) AS chunk_bytes
            FROM content
            WHERE ('0x' || substr(md5(path || '#' || CAST(sub_offset AS VARCHAR)),
                                  1, 15))::BIGINT % 17 <> 5
            GROUP BY path
        )
        SELECT COALESCE(i.path, c.path) AS path,
               CASE WHEN i.path IS NULL THEN 'ORPHAN_CONTENT'
                    WHEN COALESCE(c.chunk_bytes, 0) < i.recorded THEN 'MISSING_CHUNK'
                    ELSE 'UNTRACKED_APPEND' END AS finding,
               CAST(COALESCE(c.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(CASE WHEN i.path IS NULL THEN c.chunk_bytes
                         ELSE abs(COALESCE(c.chunk_bytes, 0) - i.recorded)
                    END AS BIGINT) AS bytes
        FROM inodes i
        FULL OUTER JOIN chunks c ON i.path = c.path
        WHERE i.path IS NULL OR COALESCE(c.chunk_bytes, 0) <> i.recorded
        """,
        "files",
        "content",
    ),
)
def fs_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline fsck over the INode/sblock store: orphaned content (sblocks
    whose INode commit never landed), missing chunks (INode claims more
    bytes than the surviving sblocks hold), and untracked appends (sblocks
    exceed the recorded size). Faults are injected deterministically so
    every class appears; the scan is two single passes + one equi-join,
    the shape that holds at any metadata scale."""
    inodes = (
        files_df(spark, sf_dir)
        .filter(~F.col("is_dir"))
        .filter(md5_bucket(F.col("path"), 13) != 3)
        .select(
            "path",
            F.when(
                md5_bucket(F.col("path"), 19) == 11,
                F.greatest(F.col("size") - FSCK_STALE_SHRINK, F.lit(0).cast("long")),
            )
            .otherwise(F.col("size"))
            .alias("recorded"),
        )
    )
    chunks = (
        content_df(spark, sf_dir)
        .filter(
            md5_bucket(
                F.concat(F.col("path"), F.lit("#"), F.col("sub_offset").cast("string")),
                17,
            )
            != 5
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("length").alias("chunk_bytes"),
        )
    )
    j = inodes.alias("i").join(
        chunks.alias("c"), F.col("i.path") == F.col("c.path"), "full_outer"
    )
    inode_missing = F.col("i.path").isNull()
    have = F.coalesce(F.col("c.chunk_bytes"), F.lit(0).cast("long"))
    return (
        j.filter(inode_missing | (have != F.col("i.recorded")))
        .select(
            F.coalesce(F.col("i.path"), F.col("c.path")).alias("path"),
            F.when(inode_missing, F.lit("ORPHAN_CONTENT"))
            .when(have < F.col("i.recorded"), F.lit("MISSING_CHUNK"))
            .otherwise(F.lit("UNTRACKED_APPEND"))
            .alias("finding"),
            F.coalesce(F.col("c.n_chunks"), F.lit(0).cast("long")).alias("n_chunks"),
            F.when(inode_missing, F.col("c.chunk_bytes"))
            .otherwise(F.abs(have - F.col("i.recorded")))
            .cast("long")
            .alias("bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Anti-entropy repair plan (the Cassandra primitive behind the
# reference's store: replicas drift, a repair compares Merkle-style
# digests and streams only the differing ranges — nodetool repair,
# re-expressed relationally). Replica A is the content model; replica B
# deterministically lost a ~0.5% chunk set (the fs_fsck injection
# pattern). Each of the REPAIR_BUCKETS token-range buckets gets a
# SET-HOMOMORPHIC digest — the SUM of per-chunk 60-bit fingerprints,
# accumulated exactly in decimal — so the digest is order-independent,
# aggregates map-side with O(1) state per bucket, and never
# concatenates corpus-proportional strings the way a literal Merkle
# leaf list would. Only buckets whose digests differ are drilled into;
# the anti-join that enumerates missing chunks touches mismatched
# buckets alone, which is the entire point of the tree.

REPAIR_BUCKETS = 64
REPAIR_LOSS_MOD = 199  # ~0.5% of replica B's chunks are lost
_REPAIR_FP_SQL = (
    "('0x' || substr(md5(path || '#' || CAST(sub_offset AS VARCHAR)"
    " || '#' || md5(payload)), 1, 15))::BIGINT"
)


@register(
    "fs_repair_plan",
    oracle=fs_sql(
        f"""
        , chunks AS (
            SELECT path, sub_offset, length,
                   ('0x' || substr(md5(path), 1, 15))::BIGINT
                     % {REPAIR_BUCKETS} AS bucket,
                   {_REPAIR_FP_SQL} AS f,
                   ('0x' || substr(md5(path || '#' || CAST(sub_offset AS VARCHAR)),
                                   1, 15))::BIGINT % {REPAIR_LOSS_MOD} = 7 AS lost
            FROM content
        ),
        da AS (
            SELECT bucket, SUM(CAST(f AS DECIMAL(28,0))) AS digest,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks
            FROM chunks GROUP BY bucket
        ),
        db AS (
            SELECT bucket, SUM(CAST(f AS DECIMAL(28,0))) AS digest
            FROM chunks WHERE NOT lost GROUP BY bucket
        )
        SELECT a.bucket, a.n_chunks,
               CAST(COUNT(c.path) AS BIGINT) AS n_missing_chunks,
               CAST(COALESCE(SUM(c.length), 0) AS BIGINT) AS missing_bytes
        FROM da a
        LEFT JOIN db b ON b.bucket = a.bucket
        JOIN chunks c ON c.bucket = a.bucket AND c.lost
        WHERE b.bucket IS NULL OR a.digest <> b.digest
        GROUP BY a.bucket, a.n_chunks
        """,
        "content",
    ),
)
def fs_repair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy repair plan between two replica views of the chunk
    store: per mismatched token-range bucket, how many chunks and bytes
    replica B must stream back. Digest comparison finds the buckets;
    the chunk-level enumeration runs ONLY inside them.

    Scale: the set-homomorphic bucket digest (exact decimal SUM of
    60-bit chunk fingerprints) collapses map-side to REPAIR_BUCKETS
    rows per replica — no sort, no string concatenation, no Merkle
    recursion needed at this fan-out. The drill-down joins the chunk
    relation against the <= REPAIR_BUCKETS mismatched-bucket ids
    (broadcast) and only then inspects chunks."""
    ch = content_df(spark, sf_dir).select(
        "path",
        "sub_offset",
        "length",
        md5_bucket(F.col("path"), REPAIR_BUCKETS).alias("bucket"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("path"),
                        F.lit("#"),
                        F.col("sub_offset").cast("string"),
                        F.lit("#"),
                        F.md5(F.col("payload").cast("binary")),
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("f"),
        (
            md5_bucket(
                F.concat(
                    F.col("path"), F.lit("#"), F.col("sub_offset").cast("string")
                ),
                REPAIR_LOSS_MOD,
            )
            == 7
        ).alias("lost"),
    )
    # the chunk fingerprints feed both digests and the drill-down
    ch = ch.localCheckpoint(eager=False)
    dec = lambda c: c.cast("decimal(28,0)")  # noqa: E731
    # BOTH replica digests in ONE bucket aggregate: replica B's digest
    # is a conditional sum, and a bucket whose chunks are all lost sums
    # to NULL — exactly the left-join miss the old two-aggregate + join
    # shape produced (r11 opt: 2 passes over ch + a join -> 1 pass).
    mismatched = (
        ch.groupBy("bucket")
        .agg(
            F.sum(dec(F.col("f"))).alias("digest_a"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(~F.col("lost"), dec(F.col("f")))).alias("digest_b"),
        )
        .filter(
            F.col("digest_b").isNull()
            | (F.col("digest_a") != F.col("digest_b"))
        )
        .select("bucket", "n_chunks")
    )
    return (
        ch.filter(F.col("lost"))
        .join(F.broadcast(mismatched), "bucket")
        .groupBy("bucket", "n_chunks")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_missing_chunks"),
            F.sum("length").cast("long").alias("missing_bytes"),
        )
        .select("bucket", "n_chunks", "n_missing_chunks", "missing_bytes")
    )


# Quorum-read staleness model (the reference's Cassandra substrate,
# ThriftStore.scala's consistency-level choices): with RF=3 and a read
# at consistency R returning the freshest of R contacted replicas, a
# read is stale iff ALL R contacted replicas are stale. Per block with
# s stale replicas there are C(s,R) stale read-combos of C(3,R) — exact
# combinatorics, no simulation. Staleness is injected deterministically
# (10% of (block, replica) pairs by md5 bucket — the fs_fsck fault-
# injection discipline) so both engines model the identical failure set.
QUORUM_STALE_PCT = 10


@register(
    "fs_quorum_staleness",
    oracle=fs_sql(
        f"""SELECT path,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(s) AS BIGINT) AS stale_replicas,
               CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS r2_stale_num,
               CAST(SUM(CASE WHEN s = 3 THEN 1 ELSE 0 END) AS BIGINT) AS r3_stale_num
           FROM (
             SELECT path,
                    (CASE WHEN ('0x' || substr(md5(path || '#' || block_idx || '#0'), 1, 15))::BIGINT % 100 < {QUORUM_STALE_PCT} THEN 1 ELSE 0 END
                   + CASE WHEN ('0x' || substr(md5(path || '#' || block_idx || '#1'), 1, 15))::BIGINT % 100 < {QUORUM_STALE_PCT} THEN 1 ELSE 0 END
                   + CASE WHEN ('0x' || substr(md5(path || '#' || block_idx || '#2'), 1, 15))::BIGINT % 100 < {QUORUM_STALE_PCT} THEN 1 ELSE 0 END) AS s
             FROM blocks
           )
           GROUP BY path""",
        "blocks",
    ),
)
def fs_quorum_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file stale-read exposure at consistency ONE / QUORUM / ALL:
    the four independent counts (n_blocks, stale replicas, stale
    QUORUM pairs C(s,2), all-stale blocks) from which every stale-read
    rate derives — ONE over 3·n_blocks, QUORUM over 3·n_blocks, ALL
    over n_blocks — for the injected 10% replica-staleness set. The
    quorum effect drops out of the integers themselves: r2_stale_num
    counts C(s,2) pairs, so a file only risks a stale QUORUM read where
    two replicas of the same block are stale — the read-repair
    prioritization signal (pair with fs_repair_plan's digests to pick
    which buckets to repair first).

    Scale: ONE scan of the blocks view — the replica indicators are
    three md5 buckets per row in codegen, no join against a replica
    table and no per-replica row fan-out; the per-path aggregate
    collapses map-side. At 100 TB this is block-metadata-proportional
    map work with file-proportional output."""
    from snackfs_spark.sources.fsmodel import blocks_df

    ind = [
        F.when(
            md5_bucket(
                F.concat_ws(
                    "#", F.col("path"), F.col("block_idx").cast("string"), F.lit(str(r))
                ),
                100,
            )
            < QUORUM_STALE_PCT,
            1,
        ).otherwise(0)
        for r in range(3)
    ]
    s = (ind[0] + ind[1] + ind[2]).alias("s")
    per_block = blocks_df(spark, sf_dir).select("path", s)
    return per_block.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("s").cast("long").alias("stale_replicas"),
        F.sum(F.expr("s * (s - 1) div 2")).cast("long").alias("r2_stale_num"),
        F.sum(F.when(F.col("s") == 3, 1).otherwise(0)).cast("long").alias(
            "r3_stale_num"
        ),
    )


# ------------------------------------------------------------ heat tiering ----
#
# Storage-tier planning from an access log: the lifecycle-management
# query every large store runs (S3 intelligent tiering / HDFS storage
# policies) — which bytes are HOT (accessed in the last 7 days), WARM
# (31 days... scaled here to the fixture's 30-day window: 21 days) or
# COLD (older, or never accessed). The reference's Cassandra store has
# no access-aware tiering; this is the operational query its operators
# would add first at 100 TB, where cold bytes dominate the bill.
#
# The access log derives deterministically from `events`: each event
# touches the document md5_fp(event_id) % n_docs — same expression both
# engines, n_docs computed in-plan (doc_ids are contiguous 0..n-1,
# pinned by tests/conftest's dtype contract).
HEAT_AS_OF = "2024-01-31 00:00:00"  # fixture event window ends 2024-01-30
HEAT_HOT_DAYS = 7
HEAT_WARM_DAYS = 21


@register(
    "fs_heat_tiering",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    acc AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
               % n.n_docs AS doc_id,
             ts
      FROM events CROSS JOIN n
    ),
    heat AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_accesses, MAX(ts) AS last_ts
      FROM acc GROUP BY doc_id
    ),
    tiered AS (
      SELECT '/data/' || d.source AS parent_path,
             CASE
               WHEN h.last_ts IS NULL THEN 'cold'
               WHEN h.last_ts >= TIMESTAMP '{HEAT_AS_OF}'
                                 - INTERVAL {HEAT_HOT_DAYS} DAY THEN 'hot'
               WHEN h.last_ts >= TIMESTAMP '{HEAT_AS_OF}'
                                 - INTERVAL {HEAT_WARM_DAYS} DAY THEN 'warm'
               ELSE 'cold'
             END AS tier,
             d.n_chars AS size,
             COALESCE(h.n_accesses, 0) AS n_accesses
      FROM documents d LEFT JOIN heat h ON h.doc_id = d.doc_id
    )
    SELECT parent_path, tier,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(size) AS BIGINT) AS tier_bytes,
           CAST(SUM(n_accesses) AS BIGINT) AS n_accesses
    FROM tiered GROUP BY 1, 2
    """,
)
def fs_heat_tiering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot/warm/cold tier plan per directory: every file lands in a tier
    by last-access recency against the fixed HEAT_AS_OF horizon (7-day
    hot, 21-day warm, else cold — never-accessed files are cold), with
    per-(directory, tier) file counts, byte totals and access volume.

    Scale: the access log collapses map-side onto doc keys (heat is one
    row per touched file, however many accesses); the file join is
    doc_id-keyed shuffle-hash (both sides metadata-proportional, never
    broadcast); the tier rollup collapses onto |dirs| x 3 keys. One
    shuffle of file-count rows end to end."""
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from snackfs_spark.functions import md5_fp

    acc = ev.crossJoin(F.broadcast(n)).select(
        (md5_fp(F.col("event_id").cast("string")) % F.col("n_docs")).alias("doc_id"),
        "ts",
    )
    heat = acc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_accesses"),
        F.max("ts").alias("last_ts"),
    )
    as_of = F.lit(HEAT_AS_OF).cast("timestamp")
    tier = (
        F.when(F.col("last_ts").isNull(), "cold")
        .when(
            F.col("last_ts") >= F.timestamp_add("DAY", F.lit(-HEAT_HOT_DAYS), as_of),
            "hot",
        )
        .when(
            F.col("last_ts") >= F.timestamp_add("DAY", F.lit(-HEAT_WARM_DAYS), as_of),
            "warm",
        )
        .otherwise("cold")
    )
    tiered = (
        docs.select("doc_id", "source", "n_chars")
        .join(heat.hint("shuffle_hash"), "doc_id", "left")
        .select(
            F.concat(F.lit("/data/"), F.col("source")).alias("parent_path"),
            tier.alias("tier"),
            F.col("n_chars").alias("size"),
            F.coalesce(F.col("n_accesses"), F.lit(0)).alias("n_accesses"),
        )
    )
    return tiered.groupBy("parent_path", "tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("size").cast("long").alias("tier_bytes"),
        F.sum("n_accesses").cast("long").alias("n_accesses"),
    )


# ---------------------------------------------- permission audit ----
#
# Decode the octal-style permission column into the rwx mode string the
# reference's shell renders per listing row (FsPermission.toString in
# the `ls` output, SnackFSShell.scala:296-311 — there it is
# presentation; here it is the AUDIT query over it) and roll up the
# security posture: one row per (owner, group, permission, is_dir)
# with entry/byte totals and world/group-writable flags. Digits decode
# with pure integer arithmetic ((d div 4) % 2 etc.) — no bit operators,
# whose typing rules differ across engines.


@register(
    "fs_permission_audit",
    oracle=fs_sql(
        """SELECT owner, grp, permission, is_dir,
                  CASE WHEN is_dir THEN 'd' ELSE '-' END ||
                  CASE WHEN (permission // 100 // 4) % 2 = 1 THEN 'r' ELSE '-' END ||
                  CASE WHEN (permission // 100 // 2) % 2 = 1 THEN 'w' ELSE '-' END ||
                  CASE WHEN (permission // 100) % 2 = 1 THEN 'x' ELSE '-' END ||
                  CASE WHEN ((permission // 10) % 10 // 4) % 2 = 1 THEN 'r' ELSE '-' END ||
                  CASE WHEN ((permission // 10) % 10 // 2) % 2 = 1 THEN 'w' ELSE '-' END ||
                  CASE WHEN ((permission // 10) % 10) % 2 = 1 THEN 'x' ELSE '-' END ||
                  CASE WHEN (permission % 10 // 4) % 2 = 1 THEN 'r' ELSE '-' END ||
                  CASE WHEN (permission % 10 // 2) % 2 = 1 THEN 'w' ELSE '-' END ||
                  CASE WHEN (permission % 10) % 2 = 1 THEN 'x' ELSE '-' END
                    AS mode_str,
                  CAST((permission % 10 // 4) % 2 AS BIGINT) AS world_readable,
                  CAST((permission % 10 // 2) % 2 AS BIGINT) AS world_writable,
                  CAST(((permission // 10) % 10 // 2) % 2 AS BIGINT)
                    AS group_writable,
                  CAST(COUNT(*) AS BIGINT) AS n_entries,
                  CAST(SUM(size) AS BIGINT) AS total_bytes
           FROM files
           GROUP BY owner, grp, permission, is_dir""",
        "files",
    ),
)
def fs_permission_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Security-posture rollup of the namespace: per (owner, group,
    permission, is_dir) the decoded `drwxr-xr-x` mode string, the
    world/group-writable flags, and entry/byte totals — the audit a
    storage admin runs before opening a namespace to a new tenant.

    Scale: ONE metadata scan collapsing map-side onto the tiny
    (owner x grp x permission x is_dir) lattice; the decode is pure
    codegen integer arithmetic."""
    f = files_df(spark, sf_dir)

    def rwx(d):
        return F.concat(
            F.when((d / 4).cast("int") % 2 == 1, "r").otherwise("-"),
            F.when((d / 2).cast("int") % 2 == 1, "w").otherwise("-"),
            F.when(d % 2 == 1, "x").otherwise("-"),
        )

    du = (F.col("permission") / 100).cast("int")
    dg = ((F.col("permission") / 10).cast("int")) % 10
    do = F.col("permission") % 10
    return f.groupBy("owner", "grp", "permission", "is_dir").agg(
        F.count(F.lit(1)).cast("long").alias("n_entries"),
        F.sum("size").cast("long").alias("total_bytes"),
    ).select(
        "owner",
        "grp",
        "permission",
        "is_dir",
        F.concat(
            F.when(F.col("is_dir"), "d").otherwise("-"), rwx(du), rwx(dg), rwx(do)
        ).alias("mode_str"),
        ((do / 4).cast("int") % 2).cast("long").alias("world_readable"),
        ((do / 2).cast("int") % 2).cast("long").alias("world_writable"),
        ((dg / 2).cast("int") % 2).cast("long").alias("group_writable"),
        "n_entries",
        "total_bytes",
    )


# ---------------------------------------------- namespace profile ----
#
# Namespace shape report: per tree depth the directory/file counts,
# byte totals, and the maximum directory fanout at that depth — the
# metadata-scaling diagnostic behind partition-layout choices (a flat
# million-child directory and a 10-deep skinny tree stress different
# parts of a path-keyed store; the reference's parent_path index,
# ThriftStore.scala:184-187, has exactly this fanout sensitivity).


@register(
    "fs_namespace_profile",
    oracle=fs_sql(
        """SELECT e.depth,
           CAST(SUM(CASE WHEN e.is_dir THEN 1 ELSE 0 END) AS BIGINT) AS n_dirs,
           CAST(SUM(CASE WHEN e.is_dir THEN 0 ELSE 1 END) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN e.is_dir THEN 0 ELSE e.size END) AS BIGINT)
             AS total_bytes,
           CAST(COALESCE(MAX(f.max_children), 0) AS BIGINT) AS max_fanout
    FROM (
      SELECT path, is_dir, size,
             CAST(CASE WHEN path = '/' THEN 0
                  ELSE len(string_split(path, '/')) - 1 END AS BIGINT) AS depth
      FROM files
    ) e
    LEFT JOIN (
      SELECT child_depth, MAX(n_children) AS max_children
      FROM (
        SELECT CAST(CASE WHEN parent_path = '/' THEN 1
                    ELSE len(string_split(parent_path, '/')) END AS BIGINT)
                 AS child_depth,
               CAST(COUNT(*) AS BIGINT) AS n_children
        FROM files
        WHERE parent_path IS NOT NULL AND parent_path <> ''
        GROUP BY parent_path
      ) GROUP BY child_depth
    ) f ON f.child_depth = e.depth
    GROUP BY e.depth, f.max_children""",
        "files",
    ),
)
def fs_namespace_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-depth namespace profile: directory and file counts, byte
    totals, and the widest directory (max fanout) whose CHILDREN sit at
    that depth. Depth = count of non-empty path components, so `/` is
    depth 0 and `/data` is depth 1; children of a parent at depth d sit
    at depth d+1 (root's children land at depth 1, not 0 — r7 ADVICE).

    Scale: two map-side collapses over ONE metadata scan — entries onto
    the depth lattice, children onto parent_path (then onto the depth
    lattice again) — joined on the bounded depth axis. No recursion,
    no per-directory pass (the reference walks the tree client-side for
    such stats; here it is one aggregate)."""
    f = files_df(spark, sf_dir)
    e = f.select(
        "path",
        "is_dir",
        "size",
        "parent_path",
        F.when(F.col("path") == "/", F.lit(0))
        .otherwise(F.size(F.split("path", "/")) - 1)
        .cast("long")
        .alias("depth"),
    )
    fanout = (
        e.filter(F.col("parent_path").isNotNull() & (F.col("parent_path") != ""))
        .groupBy("parent_path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_children"))
        .select(
            F.when(F.col("parent_path") == "/", F.lit(1))
            .otherwise(F.size(F.split("parent_path", "/")))
            .cast("long")
            .alias("child_depth"),
            "n_children",
        )
        .groupBy("child_depth")
        .agg(F.max("n_children").alias("max_children"))
    )
    return (
        e.groupBy("depth")
        .agg(
            F.sum(F.when(F.col("is_dir"), 1).otherwise(0))
            .cast("long")
            .alias("n_dirs"),
            F.sum(F.when(F.col("is_dir"), 0).otherwise(1))
            .cast("long")
            .alias("n_files"),
            F.sum(F.when(F.col("is_dir"), 0).otherwise(F.col("size")))
            .cast("long")
            .alias("total_bytes"),
        )
        .join(
            F.broadcast(fanout.withColumnRenamed("child_depth", "depth")),
            "depth",
            "left",
        )
        .select(
            "depth",
            "n_dirs",
            "n_files",
            "total_bytes",
            F.coalesce("max_children", F.lit(0)).cast("long").alias("max_fanout"),
        )
    )
