"""Physical-layout evidence for the SCALE.md claims: partition pruning
on a path-prefix-partitioned metadata table, and shuffle-free joins on
bucketed tables — the two storage layouts the 100 TB design assumes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snackfs_spark.plans import formatted_plan
from snackfs_spark.sources.fsmodel import files_df
from snackfs_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def var(tmp_path_factory):
    return tmp_path_factory.mktemp("test_layout")


def test_partition_pruning_on_parent_path(spark, var):
    """files partitioned by parent dir: a listing touches ONE partition
    directory (PartitionFilters in the scan), the reference's secondary
    index (ThriftStore.scala:487) realized as layout."""
    f = files_df(spark, SF_ORACLE).withColumn(
        "pdir", F.coalesce(F.col("parent_path"), F.lit("_root_"))
    )
    out = str(var / "files_part")
    f.write.mode("overwrite").partitionBy("pdir").parquet(out)
    back = spark.read.parquet(out).filter(F.col("pdir") == "/data/src3")
    plan = formatted_plan(back)
    # the predicate lands in PartitionFilters (directory pruning), not a
    # post-scan Filter over the data
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and any("pdir" in l for l in pf_lines), plan
    # behavioral check: only src3's rows come back
    rows = back.select("path").collect()
    assert rows and all(r["path"].startswith("/data/src3/") for r in rows)


def test_bucketed_join_has_no_shuffle(spark):
    """orders and lineitem bucketed by the join key: the join plan has no
    shuffle exchange on either side — the co-located join layout that
    replaces the reference's path-hash key dispersion
    (ThriftStore.scala:243-247) for analytics."""
    o = load_table(spark, SF_ORACLE, "orders")
    li = load_table(spark, SF_ORACLE, "lineitem")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("orders_b")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
    )
    ob = spark.table("orders_b")
    lb = spark.table("lineitem_b")
    joined = lb.hint("merge").join(ob, lb["l_orderkey"] == ob["o_orderkey"]).groupBy(
        "o_orderstatus"
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = formatted_plan(joined)
    join_section = plan.split("SortMergeJoin")[0]
    assert "SortMergeJoin" in plan, plan
    # no shuffle feeds the join — bucketing co-locates both sides
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    # correctness unchanged
    direct = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, direct.collect()))
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_sql_interface_matches_dataframe_api(spark):
    from snackfs_spark.sql import sql

    got = sql(
        spark,
        SF_ORACLE,
        """
        SELECT parent_path, COUNT(*) AS n, SUM(size) AS bytes
        FROM files WHERE NOT is_dir GROUP BY parent_path
        """,
    )
    want = (
        files_df(spark, SF_ORACLE)
        .filter(~F.col("is_dir"))
        .groupBy("parent_path")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("size").alias("bytes"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_minhash_band_store_incremental_join_no_corpus_shuffle(spark):
    """Materialized-signature layout: corpus MinHash bands stored bucketed
    by (band, band_sig); an incremental batch (also bucketed) joins with
    NO exchange on either side — the corpus is never reshuffled. The
    candidates must equal the derived (non-materialized) computation."""
    from snackfs_spark.operators.dedup import minhash_bands_df
    from snackfs_spark.sources.writer import save_bucketed

    bands = minhash_bands_df(spark, SF_ORACLE)
    for t in ("corpus_bands", "batch_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    save_bucketed(bands.filter(F.col("doc_id") < 400), "corpus_bands", ["band", "band_sig"])
    save_bucketed(bands.filter(F.col("doc_id") >= 400), "batch_bands", ["band", "band_sig"])
    corpus = spark.table("corpus_bands")
    batch = spark.table("batch_bands")
    joined = (
        batch.hint("merge")
        .join(
            corpus.withColumnRenamed("doc_id", "corpus_doc"),
            ["band", "band_sig"],
        )
        .select("doc_id", "corpus_doc")
        .distinct()
    )
    plan = formatted_plan(joined)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(band" not in plan, plan
    # equivalence with the fully-derived pipeline
    a = bands.filter(F.col("doc_id") >= 400).alias("a")
    b = bands.filter(F.col("doc_id") < 400).alias("b")
    want = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("corpus_doc"))
        .distinct()
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))
    for t in ("corpus_bands", "batch_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ingest_cache_identical_results(spark, tmp_path, monkeypatch):
    """One parallelism rule, decided by the fixture and the core count
    alone: a table of at least SPLIT_BYTES reads a copy of exactly
    defaultParallelism files, built by the first read (no
    build_ingest_cache call); a smaller table reads its raw file. The
    split layout, the one the bench times, hash-matches the oracles.
    None of the queries builds a @shared relation over the tmp copies."""
    import os

    from snackfs_spark import workdir
    from snackfs_spark.registry import load_all
    from snackfs_spark.sources import tables
    from tests.oracle_harness import duckdb_connection, run_query_pair

    cores = spark.sparkContext.defaultParallelism
    # at the default threshold only sf0.01's lineitem (1 MB) splits
    assert tables._layout(spark, SF_ORACLE)[1] == {"lineitem": cores}

    monkeypatch.setattr(workdir, "ROOT", str(tmp_path))
    monkeypatch.setattr(tables, "SPLIT_BYTES", 64 * 1024)
    split = set()
    for name in tables.TABLES:
        raw = os.path.join(SF_ORACLE, f"{name}.parquet")
        files = tables.load_table(spark, SF_ORACLE, name).inputFiles()
        if os.path.getsize(raw) >= tables.SPLIT_BYTES:
            split.add(name)
            assert len(files) == cores, (name, files)
            assert all(str(tmp_path) in f for f in files), (name, files)
        else:
            assert len(files) == 1 and files[0].endswith(raw), (name, files)
    # both sides of the threshold are exercised
    assert {"lineitem", "orders", "events"} <= split < set(tables.TABLES), split
    reg = load_all()
    con = duckdb_connection(SF_ORACLE)
    try:
        for name in ("q1_pricing_summary", "q3_shipping_priority", "events_hourly_rollup"):
            assert run_query_pair(spark, con, reg[name], SF_ORACLE) == [], name
    finally:
        con.close()


def test_ivf_partitioned_layout_prunes_to_probe_list(spark, tmp_path):
    """The IVF scale claim made physical: embeddings written partitioned
    by list id (label) let a probe read ONE partition — the scan carries
    a PartitionFilters entry on label and prunes the other directories.
    At 100 TB this is the difference between a probe that reads 1/k of
    the corpus and one that scans everything and filters late."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_ORACLE

    src = f"{SF_ORACLE}/embeddings.parquet"
    out = str(tmp_path / "emb_by_label")
    spark.read.parquet(src).write.partitionBy("label").mode("overwrite").parquet(out)

    probe = spark.read.parquet(out).filter(F.col("label") == 3)
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    # the filter must appear inside PartitionFilters (pruned at listing
    # time), not only as a post-scan Filter
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("label" in l for l in pf), plan
    # pruning is real: the executed scan's numFiles metric says it read
    # ONE file (the label=3 directory), not all 10 label directories
    leaves = probe._jdf.queryExecution().executedPlan().collectLeaves()
    scan = leaves.head()
    num_files = scan.metrics().apply("numFiles").value()
    assert num_files == 1, f"scan read {num_files} files, expected 1"


def test_zorder_layout_improves_two_column_skipping(spark, tmp_path):
    """Z-ordered layout must make range filters on BOTH key columns
    skippable, where a single-column sort only helps its own column.
    Measured, not asserted from theory: write lineitem sorted by
    l_orderkey alone vs z-ordered on (l_orderkey, l_partkey), run the
    same selective two-column filter, and compare how many FILES each
    layout's scan reads (file-level min/max pruning is the same
    mechanism as row-group pruning, one level up)."""
    from pyspark.sql import functions as F

    from snackfs_spark.sources.zorder import write_zordered, zorder_key
    from tests.conftest import SF_ORACLE

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    n_files = 16
    plain = str(tmp_path / "li_sorted_one_col")
    zord = str(tmp_path / "li_zordered")
    (
        li.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(plain)
    )
    write_zordered(li, zord, "l_orderkey", "l_partkey", n_files=n_files)

    # sanity: morton(a=0b101, b=0b011) — a's bits land at even positions
    # (bit0=1, bit4=1 -> 17), b's at odd (bit1=1, bit3=1 -> 10) -> 27
    probe = spark.range(1).select(
        zorder_key(F.lit(0b101), F.lit(0b011)).alias("z")
    )
    assert probe.collect()[0]["z"] == 27

    # Row-group min/max statistics are what parquet readers prune on
    # (Spark prunes row groups inside the reader; plain Spark has no
    # file-level stats skipping — that layer is table formats'). Measure
    # the layouts' skipping potential directly from the written stats:
    # for a filter on the SECOND dimension only — the case z-order
    # exists for — count row groups whose [min,max] overlap the range.
    import glob

    import pyarrow.parquet as pq

    def overlapping_row_groups(path, lo, hi):
        total = overlap = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["l_partkey"]).statistics
                total += 1
                if st.min <= hi and st.max >= lo:
                    overlap += 1
        return total, overlap

    lo, hi = 1, 255  # selective partkey range (high bits zero)
    plain_total, plain_overlap = overlapping_row_groups(plain, lo, hi)
    z_total, z_overlap = overlapping_row_groups(zord, lo, hi)
    assert plain_total >= n_files and z_total >= n_files
    # orderkey-sorted layout: partkey spans its full range in every row
    # group — nothing skippable on a partkey-only predicate
    assert plain_overlap == plain_total, (plain_overlap, plain_total)
    # z-ordered layout: row groups are rectangles in (orderkey, partkey)
    # space, so most exclude the low-partkey strip entirely
    assert z_overlap < plain_overlap / 2, (z_overlap, plain_overlap)
    # and the layouts hold identical data
    assert (
        spark.read.parquet(zord).count() == spark.read.parquet(plain).count()
    )


def test_bucketed_baskets_rebuild_on_fixture_change(spark):
    """r9 ADVICE: a session that builds the bucketed baskets for A, then
    B, then A again must read each fixture's own rows (the multi-fixture
    session hazard: benches that sweep scale factors). The memo returns
    A's entry on the third call, so A's table must still hold A's rows."""
    from snackfs_spark.sources import bucketed
    from tests.conftest import SF_SMALL

    def expected(sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        return li.select("l_orderkey", "l_partkey").distinct().count()

    for sf_dir in (SF_SMALL, SF_ORACLE, SF_SMALL):
        table = bucketed.build_bucketed_baskets(spark, sf_dir)
        assert spark.table(table).count() == expected(sf_dir), (sf_dir, table)
    assert expected(SF_SMALL) != expected(SF_ORACLE)
