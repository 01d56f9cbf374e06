"""Source-format breadth: the scan layer is format-agnostic — the same
query gives identical results over parquet, ORC, CSV and JSON copies of
a table, and columnar formats keep predicate pushdown."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snackfs_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE


def _q6_like(df):
    """The q6 aggregate shape over any lineitem-schema source."""
    return (
        df.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )


@pytest.fixture(scope="module")
def format_copies(spark, tmp_path_factory):
    var = tmp_path_factory.mktemp("test_formats")
    li = load_table(spark, SF_ORACLE, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_discount", "l_extendedprice"
    )
    # date as ISO string so CSV/JSON round-trip losslessly
    li = li.withColumn("l_shipdate", F.date_format("l_shipdate", "yyyy-MM-dd"))
    paths = {}
    for fmt in ("parquet", "orc", "csv", "json"):
        out = str(var / fmt)
        w = li.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        w.format(fmt).save(out)
        paths[fmt] = out
    return li, paths


def test_same_result_across_formats(spark, format_copies):
    li, paths = format_copies
    want = _q6_like(li)
    schema = li.schema
    for fmt, path in paths.items():
        r = spark.read
        if fmt == "csv":
            r = r.option("header", "true")
        got = _q6_like(r.schema(schema).format(fmt).load(path))
        assert got == want, (fmt, got, want)


def test_orc_keeps_predicate_pushdown(spark, format_copies):
    li, paths = format_copies
    df = spark.read.schema(li.schema).format("orc").load(paths["orc"]).filter(
        F.col("l_discount") >= 0.05
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_discount" in plan.split("PushedFilters")[1][:200], plan
