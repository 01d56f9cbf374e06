"""Bucketed (co-located) table layout: the shuffle-elimination story for
repeated fact-fact joins at 100 TB.

Every `lineitem ⋈ orders` on the order key normally shuffles BOTH sides.
Bucketing both tables by the join key at write time pins row co-location
on disk, so every subsequent join (and groupBy on the same key) runs with
ZERO exchanges — at 100 TB that converts the dominant network cost of the
workload into a one-time ingest layout decision. This module is the
engine's bucketed-ingest path; tests/test_plans.py pins the no-Exchange
join plan.

The reference has the same idea in its storage layer: rows are dispersed
by path-hash into a fixed keyspace layout (ThriftStore.scala:243-247) so
related data co-locates by construction; buckets are Spark's native
expression of it.
"""

from __future__ import annotations

import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snackfs_spark import workdir
from snackfs_spark.memo import shared
from snackfs_spark.sources.tables import load_table
from snackfs_spark.sources.writer import save_bucketed

DB = "snackfs_buckets"
N_BUCKETS = 8


def _save(spark: SparkSession, sf_dir: str, df: DataFrame, table: str, key: str) -> str:
    """Write ``df`` as a table bucketed and sorted by ``key``, named for
    the fixture (workdir.fixture_key): with one fixed name, a session
    that builds A, then B, then A again would find A's memo entry but B's
    rows in the catalog. Returns the qualified name."""
    tag = re.sub(r"\W", "_", workdir.fixture_key(sf_dir, N_BUCKETS)).lower()
    table = f"{table}_{tag}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    # The in-memory catalog does not persist table metadata, so a previous
    # session's location is stale, and saveAsTable refuses to write into it.
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{DB}.db/{table}", ignore_errors=True)
    save_bucketed(df, f"{DB}.{table}", [key], N_BUCKETS)
    return f"{DB}.{table}"


@shared
def build_bucketed_facts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """One-time ingest: write orders and lineitem bucketed + sorted by the
    order key, once per (session, fixture). Returns their table names."""
    return (
        _save(spark, sf_dir, load_table(spark, sf_dir, "orders"), "orders_b", "o_orderkey"),
        _save(spark, sf_dir, load_table(spark, sf_dir, "lineitem"), "lineitem_b", "l_orderkey"),
    )


def colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located fact-fact join: order-priority revenue over
    lineitem ⋈ orders. With both sides bucketed by the key, the join
    itself needs no exchange — the only shuffle left is the final
    8-group aggregate."""
    orders, lineitem = build_bucketed_facts(spark, sf_dir)
    li = spark.table(lineitem)
    o = spark.table(orders)
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


@shared
def build_bucketed_baskets(spark: SparkSession, sf_dir: str) -> str:
    """One-time ingest for the basket-mining family (r8 VERDICT #5):
    the deduplicated (l_orderkey, l_partkey) basket relation, bucketed
    AND sorted by the basket key. The A-priori pair generation is a
    basket-key SELF-join — with the relation bucketed on that key the
    join consumes two bucketed scans with ZERO exchange and (sorted
    buckets) zero sort, leaving the pair-count groupBy as the only
    shuffle. The distinct is paid once per (session, fixture) instead of
    once per mining query. Returns the table name."""
    baskets = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    return _save(spark, sf_dir, baskets, "baskets_b", "l_orderkey")


def association_rules_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mining_association_rules re-expressed over the bucketed basket
    table — identical semantics and output schema (the equality test
    pins it), but the basket self-join reads co-located buckets: no
    exchange, no sort on the join. This is the 100 TB layout lever the
    r8 sweep flagged (0.67/decade was the steepest exponent in the
    fleet; the self-join shuffle dominates it)."""
    from snackfs_spark.operators.mining import association_rules

    return association_rules(spark.table(build_bucketed_baskets(spark, sf_dir)))
