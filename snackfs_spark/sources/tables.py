"""Loaders for the driver's synthetic star-schema parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under
/root/testdata/sf{0.001,0.01,0.1}/.

Reads are plain ``spark.read.parquet`` so Catalyst's parquet scan keeps
predicate pushdown / column pruning / row-group skipping. A table big
enough to split is read from a multi-file copy in the work dir
(load_table), the shape data has at cluster scale; nothing else changes.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from snackfs_spark import workdir

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Restore scan parallelism when the source produced fewer partitions
    than the cluster has slots (the classic small-file / single-row-group
    problem: a parquet file with one row group scans as ONE task no
    matter its size).

    At real scale inputs have >= cores splits and this is a no-op; on the
    bench's single-row-group files it trades one cheap round-robin
    shuffle of the (already filtered/pruned) rows for full parallelism in
    everything downstream. Call it AFTER filters so pushdown is intact.

    Parallelism is probed via the file-source split count
    (``df.inputFiles()``, a driver-side metadata call) rather than
    ``df.rdd.getNumPartitions`` — touching ``.rdd`` forces Spark to set
    up the whole Python deserialization pipeline for the frame (r6
    VERDICT #7). A non-file-backed frame reports zero input files and is
    returned unchanged: its parallelism is its parent's, not a scan's.
    """
    target = spark.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < max(2, target // 2):
        return df.repartition(target)
    return df


def read_events(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """The events table as `read()` (a batch or a stream read) surfaces
    it, with `ts` normalized to a session-UTC timestamp — the ONE
    events.ts rule, shared by the batch loader and the stream.

    The fixture's events.parquet stores ts as TIMESTAMP(NANOS), which
    Spark's parquet reader rejects outright. Read nanos as long (runtime
    SQL conf, works on any session handed to us) and convert to a micros
    timestamp — the values are micro-aligned, and DuckDB also surfaces
    this column at micro precision, so the conversion is lossless and
    oracle-exact. An events table written by another engine (e.g. the
    sf1 stress fixture) already has a real timestamp; NTZ becomes the
    session-UTC instant type so downstream epoch casts work the same on
    either encoding."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, lambda: spark.read.parquet(path))
    return spark.read.parquet(path)


# One split per SPLIT_BYTES of raw parquet, capped at the core count: big
# facts get full parallelism, small tables are NOT shredded into 32 tiny
# files (per-task overhead would dominate; their CPU-heavy pipelines call
# fan_out AFTER filtering instead). Read at call time, so tests can lower it.
SPLIT_BYTES = 512 * 1024


def _layout(spark: SparkSession, sf_dir: str) -> tuple[str, dict[str, int]]:
    """(copy root, {table: split count}) for the fixture at ``sf_dir``:
    every table that splits (count > 1) is read from its copy under the
    root; the rest, every dimension table included, stay raw."""
    cap = spark.sparkContext.defaultParallelism
    splits = {}
    for name in TABLES:
        raw = os.path.join(sf_dir, f"{name}.parquet")
        # a fixture may hold only the tables its queries read
        n = min(os.path.getsize(raw) // SPLIT_BYTES, cap) if os.path.exists(raw) else 0
        if n > 1:
            splits[name] = n
    # Joined here, through this module's os, with the ingest kind root as
    # the first argument: perfbench/workloads.py redirects exactly that
    # call to a fresh dir, so every benchmark setup pays a cold ingest.
    root = os.path.join(workdir.kind_root("ingest"), workdir.fixture_key(sf_dir, splits))
    return root, splits


def _split_copy(spark: SparkSession, sf_dir: str, root: str, name: str, n: int) -> str:
    return workdir.build_once(
        os.path.join(root, f"{name}.parquet"),
        lambda out: _read_raw(spark, sf_dir, name)
        .repartition(n)
        .write.mode("overwrite")
        .parquet(out),
    )


def build_ingest_cache(spark: SparkSession, sf_dir: str) -> str:
    """Build now every split copy that load_table reads, and return their
    root. The copies are the engine's ingest layout, not a benchmark
    trick: a real deployment never queries a monolithic one-row-group
    file — data lands partitioned and every downstream scan parallelizes
    for free. Benches call this in their warm-up so the ingest is billed
    there, not to the first query that reads a fact table. Idempotent:
    the copies live in the work dir keyed by the fixture and the split
    counts (workdir.py) and are reused across processes."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root, splits = _layout(spark, sf_dir)
    for name, n in splits.items():
        _split_copy(spark, sf_dir, root, name, n)
    return root


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table ``name`` of the fixture at ``sf_dir``, in the one layout
    the fixture and the core count decide (DESIGN.md "Table layout"): a
    table with one split reads its raw file; a larger one reads its split
    copy, built first if it is missing."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamp semantics must match the DuckDB oracle regardless of which
    # session runs us (the driver supplies its own): pin UTC at read time.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root, splits = _layout(spark, sf_dir)
    if name not in splits:
        return _read_raw(spark, sf_dir, name)
    # events was converted at ingest; the copies read plain.
    return spark.read.parquet(_split_copy(spark, sf_dir, root, name, splits[name]))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}

