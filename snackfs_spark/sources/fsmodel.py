"""Derived filesystem model: the reference's data model (SURVEY.md §1) as
deterministic views over the driver's parquet tables.

The reference stores a filesystem in Cassandra: an `inode` CF keyed by
path-hash with indexed `path`/`parent_path` columns (ThriftStore.scala:
169-196), an `sblock` CF of chunked content (:198-211), a `createlock` CF
of time-ordered lock attempts (:213-226), and a token ring mapping blocks
to replica hosts (:543-605). To make every filesystem operator
hash-checkable by the DuckDB oracle, we derive the same four relations
deterministically from the driver's tables:

  files   — one row per file (from `documents`) or directory, mirroring
            the INode record (INode.scala:32-33) + size/mtime
  content — fixed-size sub-block chunks of document text, mirroring the
            block/sub-block layout (SubBlockMeta.scala:23; sizes
            SnackFSConfiguration.scala:41-42, scaled down: 64-char
            sub-blocks, 4 sub-blocks per 256-char block)
  locks   — lock-attempt rows (path, ts, holder), mirroring the
            createlock time-UUID columns (ThriftStore.scala:624-671)
  ring    — token ranges (tok_start, tok_end] per host incl. one
            wraparound range, mirroring describe_ring (:543-605)
  blocks  — per-file block index + a 2-round LCG token per block
            (stands in for Murmur3 at :567-568; pure int64 arithmetic so
            Spark and DuckDB agree bit-for-bit)

This module owns the content layout: SUB_CHARS/BLOCK_CHARS and
chunk_text, the one text -> sub-block mapping (the writer, append and
the content view all call it; an empty text has no chunk rows). The
inverse, chunks -> text, is catalog.reassemble_chunks. It owns the
placement rule too: owned_by (owned_by_sql in DuckDB) is the one
token-in-ring-range test, and place the broadcast-ring join that every
block-location query calls.

Each relation exists twice, by construction identical: a Spark DataFrame
builder and a DuckDB CTE string. Queries compose the Spark side; oracles
prepend the CTE. Many queries per session read the same view, so each
Spark side is a @shared relation (memo.py) materialized with
``.cache()``: the chunk/union expansion is computed once per session and
fixture.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from snackfs_spark.memo import shared
from snackfs_spark.sources.tables import load_table

SUB_CHARS = 64          # sub-block payload size (reference: 8 MB, scaled)
SUBS_PER_BLOCK = 4      # sub-blocks per block (reference: 128 MB / 8 MB = 16)
BLOCK_CHARS = SUB_CHARS * SUBS_PER_BLOCK
TOKEN_SPACE = 4294967296  # 2^32 token ring
REPLICATION = 3           # Cassandra SimpleStrategy: owner + RF-1 ring successors
RING_NODES = 25           # one range per nation row
RING_STEP = TOKEN_SPACE // RING_NODES  # 171798691
EPOCH = "2024-01-01 00:00:00"

# A document's file path and mtime (EPOCH plus doc_id minutes), the one
# rule in both engines: SQL for the oracles, a Column for Spark.
PATH_SQL = "'/data/' || source || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt'"
MTIME_SQL = f"TIMESTAMP '{EPOCH}' + INTERVAL (doc_id) MINUTE"

# ---------------------------------------------------------------- files ----

FILES_CTE = f"""files AS (
  SELECT {PATH_SQL} AS path,
         '/data/' || source AS parent_path,
         'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
         FALSE AS is_dir,
         CAST(n_chars AS BIGINT) AS size,
         'u' || CAST(doc_id % 7 AS VARCHAR) AS owner,
         'g' || CAST(doc_id % 3 AS VARCHAR) AS grp,
         644 AS permission,
         {MTIME_SQL} AS mtime
  FROM documents
  UNION ALL
  SELECT DISTINCT '/data/' || source, '/data', source, TRUE, CAST(0 AS BIGINT),
         'root', 'root', 755, TIMESTAMP '{EPOCH}'
  FROM documents
  UNION ALL
  SELECT '/data', '/', 'data', TRUE, CAST(0 AS BIGINT), 'root', 'root', 755,
         TIMESTAMP '{EPOCH}'
  UNION ALL
  SELECT '/', CAST(NULL AS VARCHAR), '', TRUE, CAST(0 AS BIGINT), 'root', 'root',
         755, TIMESTAMP '{EPOCH}'
)"""


def doc_path() -> F.Column:
    return F.concat(
        F.lit("/data/"),
        F.col("source"),
        F.lit("/doc_"),
        F.col("doc_id").cast("string"),
        F.lit(".txt"),
    )


def doc_mtime() -> F.Column:
    return F.expr(f"timestampadd(MINUTE, cast(doc_id as int), timestamp'{EPOCH}')")


@shared
def files_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `files` metadata relation (INode rows). At scale this is a real
    table partitioned by a path prefix; here it derives from `documents`."""
    docs = load_table(spark, sf_dir, "documents")
    epoch = F.lit(EPOCH).cast("timestamp")
    file_rows = docs.select(
        doc_path().alias("path"),
        F.concat(F.lit("/data/"), F.col("source")).alias("parent_path"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("name"),
        F.lit(False).alias("is_dir"),
        F.col("n_chars").cast("long").alias("size"),
        F.concat(F.lit("u"), (F.col("doc_id") % 7).cast("string")).alias("owner"),
        F.concat(F.lit("g"), (F.col("doc_id") % 3).cast("string")).alias("grp"),
        F.lit(644).alias("permission"),
        doc_mtime().alias("mtime"),
    )
    dir_rows = (
        docs.select("source")
        .distinct()
        .select(
            F.concat(F.lit("/data/"), F.col("source")).alias("path"),
            F.lit("/data").alias("parent_path"),
            F.col("source").alias("name"),
            F.lit(True).alias("is_dir"),
            F.lit(0).cast("long").alias("size"),
            F.lit("root").alias("owner"),
            F.lit("root").alias("grp"),
            F.lit(755).alias("permission"),
            epoch.alias("mtime"),
        )
    )
    root_rows = spark.range(1).select(
        F.lit("/data").alias("path"),
        F.lit("/").alias("parent_path"),
        F.lit("data").alias("name"),
        F.lit(True).alias("is_dir"),
        F.lit(0).cast("long").alias("size"),
        F.lit("root").alias("owner"),
        F.lit("root").alias("grp"),
        F.lit(755).alias("permission"),
        epoch.alias("mtime"),
    )
    slash_rows = spark.range(1).select(
        F.lit("/").alias("path"),
        F.lit(None).cast("string").alias("parent_path"),
        F.lit("").alias("name"),
        F.lit(True).alias("is_dir"),
        F.lit(0).cast("long").alias("size"),
        F.lit("root").alias("owner"),
        F.lit("root").alias("grp"),
        F.lit(755).alias("permission"),
        epoch.alias("mtime"),
    )
    # The bounded directory rows share ONE partition: apart, the cached
    # view would keep the distinct's shuffle partitions plus
    # defaultParallelism partitions per spark.range(1), and every lookup
    # over `files` would pay a task for each (cached plans keep their
    # partitioning: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning).
    dirs = dir_rows.unionAll(root_rows).unionAll(slash_rows).coalesce(1)
    return file_rows.unionAll(dirs).cache()


# -------------------------------------------------------------- content ----

CONTENT_CTE = f"""content AS (
  SELECT path, block_idx, sub_idx, block_offset, sub_offset,
         CAST(length(payload) AS BIGINT) AS length, payload
  FROM (
    SELECT {PATH_SQL} AS path,
           CAST(i // {SUBS_PER_BLOCK} AS INT) AS block_idx,
           CAST(i % {SUBS_PER_BLOCK} AS INT) AS sub_idx,
           CAST((i // {SUBS_PER_BLOCK}) * {BLOCK_CHARS} AS BIGINT) AS block_offset,
           CAST(i * {SUB_CHARS} AS BIGINT) AS sub_offset,
           substr(text, CAST(i * {SUB_CHARS} + 1 AS INT), {SUB_CHARS}) AS payload
    FROM (
      SELECT doc_id, source, text,
             unnest(range(0, CAST(ceil(n_chars / {SUB_CHARS}.0) AS BIGINT))) AS i
      FROM documents
    )
  )
)"""


def _chunk_indices(n: Column, width: int) -> Column:
    """Explode 0 .. ceil(n / width) - 1: the indices of the width-char
    chunks of an n-char text. Zero-length texts expand to NO chunks —
    Spark's sequence(0, -1) would otherwise emit a descending [0, -1],
    diverging from the oracle CTEs' empty range(0, 0)."""
    return F.explode(
        F.when(
            n > 0,
            F.sequence(F.lit(0).cast("long"), F.ceil(n / width).cast("long") - 1),
        ).otherwise(F.array().cast("array<long>"))
    )


def chunk_text(
    df: DataFrame,
    path_col: str | Column = "path",
    text_col: str | Column = "text",
    base: int | Column = 0,
) -> DataFrame:
    """One row per SUB_CHARS slice of each (path, text) row, with
    (block_idx, sub_idx, block_offset, sub_offset, length, payload).
    The columns take a name or a Column. `base` is the char offset of
    the first chunk — 0 for a new file, the old size for an append,
    whose chunks then continue the offset sequence without re-aligning
    to the sub-block grid (length <= SUB_CHARS is all the layout
    promises). An empty text has no chunk rows.

    The expansion is a generator in the projection: no shuffle, and a
    file's chunks stay in the partition that read it."""
    path = F.col(path_col) if isinstance(path_col, str) else path_col
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    start = base if isinstance(base, Column) else F.lit(base)
    off = F.col("__base") + F.col("i") * SUB_CHARS
    piece = F.expr(f"substring(__text, cast(i * {SUB_CHARS} + 1 as int), {SUB_CHARS})")
    return df.select(
        path.alias("path"),
        text.alias("__text"),
        start.cast("long").alias("__base"),
        _chunk_indices(F.length(text), SUB_CHARS).alias("i"),
    ).select(
        "path",
        (off / BLOCK_CHARS).cast("int").alias("block_idx"),
        ((off % BLOCK_CHARS) / SUB_CHARS).cast("int").alias("sub_idx"),
        (F.floor(off / BLOCK_CHARS) * BLOCK_CHARS).cast("long").alias("block_offset"),
        off.cast("long").alias("sub_offset"),
        F.length(piece).cast("long").alias("length"),
        piece.alias("payload"),
    )


@shared
def content_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunked `content` relation: one row per sub-block, exactly the
    reference's sblock layout (one column per sub-block,
    ThriftStore.scala:352-365) re-expressed as rows — chunk_text over
    the documents, cached."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_text(docs, doc_path()).cache()


# ---------------------------------------------------------------- locks ----

LOCKS_CTE = """locks AS (
  SELECT '/locks/q' || CAST(user_id % 50 AS VARCHAR) AS path,
         ts,
         'p' || CAST(event_id AS VARCHAR) AS holder,
         event_id
  FROM events
)"""


@shared
def locks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lock-attempt rows: each event is an attempt on one of 50 lock paths.
    Mirrors the createlock CF's (timeUUID -> processId) columns."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("/locks/q"), (F.col("user_id") % 50).cast("string")).alias("path"),
        F.col("ts"),
        F.concat(F.lit("p"), F.col("event_id").cast("string")).alias("holder"),
        F.col("event_id"),
    ).cache()


# ----------------------------------------------------------- ring/blocks ----

RING_CTE = f"""ring AS (
  SELECT n_name AS host,
         CAST(n_nationkey AS BIGINT) * {RING_STEP} AS tok_start,
         CASE WHEN n_nationkey = {RING_NODES - 1} THEN CAST(0 AS BIGINT)
              ELSE (CAST(n_nationkey AS BIGINT) + 1) * {RING_STEP} END AS tok_end
  FROM nation
)"""

# Two LCG rounds disperse block ids over the 2^32 token space; every
# intermediate fits in int64 so Spark and DuckDB agree exactly.
_TOKEN_SQL = (
    "CAST((((((doc_id * 131 + block_idx) * 69069 + 12345) % 4294967296)"
    " * 69069 + 12345) % 4294967296) AS BIGINT)"
)

BLOCKS_CTE = f"""blocks AS (
  SELECT {PATH_SQL} AS path,
         CAST(block_idx AS INT) AS block_idx,
         {_TOKEN_SQL} AS token
  FROM (
    SELECT doc_id, source,
           unnest(range(0, CAST(ceil(n_chars / {BLOCK_CHARS}.0) AS BIGINT))) AS block_idx
    FROM documents
  )
)"""


@shared
def ring_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token ring: 25 (tok_start, tok_end] ranges, node 24 wrapping to 0 —
    same shape as Cassandra's describe_ring output."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        F.col("n_name").alias("host"),
        (F.col("n_nationkey").cast("long") * RING_STEP).alias("tok_start"),
        F.when(F.col("n_nationkey") == RING_NODES - 1, F.lit(0).cast("long"))
        .otherwise((F.col("n_nationkey").cast("long") + 1) * RING_STEP)
        .alias("tok_end"),
    ).cache()


@shared
def blocks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per 256-char block of each file, with its ring token."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        doc_path().alias("path"),
        "doc_id",
        _chunk_indices(F.col("n_chars"), BLOCK_CHARS).alias("block_idx"),
    ).select(
        "path",
        F.col("block_idx").cast("int").alias("block_idx"),
        F.expr(_TOKEN_SQL).alias("token"),
    ).cache()


# ------------------------------------------------------------ placement ----


def owned_by(token: Column, lo: Column, hi: Column) -> Column:
    """token in the half-open ring range (lo, hi], wrapping past 2^32 when
    lo >= hi: the one ownership rule (ThriftStore.scala:543-605)."""
    normal = (lo < hi) & (token > lo) & (token <= hi)
    wrap = (lo >= hi) & ((token > lo) | (token <= hi))
    return normal | wrap


def owned_by_sql(token: str, lo: str, hi: str) -> str:
    """owned_by's DuckDB twin, over column expressions given as SQL."""
    return (
        f"({lo} < {hi} AND {token} > {lo} AND {token} <= {hi})"
        f" OR ({lo} >= {hi} AND ({token} > {lo} OR {token} <= {hi}))"
    )


def place(spark: SparkSession, sf_dir: str, blocks: DataFrame) -> DataFrame:
    """Add the owning ring row (host, tok_start, tok_end) to every row of
    `blocks` by its `token` column. The ring is 25 rows at any scale, so
    it is broadcast: a BroadcastNestedLoopJoin with no shuffle of
    `blocks` (the reference ships describe_ring to every client for the
    same reason)."""
    r = F.broadcast(ring_df(spark, sf_dir))
    return blocks.join(r, owned_by(blocks["token"], r["tok_start"], r["tok_end"]))


# --------------------------------------------------------------- helpers ----

_CTES = {
    "files": FILES_CTE,
    "content": CONTENT_CTE,
    "locks": LOCKS_CTE,
    "ring": RING_CTE,
    "blocks": BLOCKS_CTE,
}


def fs_sql(body: str, *views: str) -> str:
    """Prepend the requested derived-view CTEs to an oracle SQL body."""
    parts = [_CTES[v] for v in views]
    return "WITH " + ",\n".join(parts) + "\n" + body
