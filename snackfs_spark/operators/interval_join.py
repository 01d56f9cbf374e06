"""Non-equi / interval joins (SURVEY.md §2.B Q-BLOCKLOC): the reference's
token-ring locality match (ThriftStore.scala:543-605) — block token ∈
(range_start, range_end] over ring ranges including the wraparound range —
plus the same join family on the star schema.

The ring/band side is tiny at any data scale, so both joins broadcast the
small side: a BroadcastNestedLoopJoin whose cost is rows × |ring|, with no
shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snackfs_spark.catalog import SnackCatalog
from snackfs_spark.registry import register
from snackfs_spark.sources.fsmodel import (
    REPLICATION,
    RING_NODES,
    TOKEN_SPACE,
    blocks_df,
    files_df,
    fs_sql,
    owned_by,
    owned_by_sql,
    place,
    ring_df,
)
from snackfs_spark.sources.tables import load_table


# Every oracle's block -> host match: owned_by_sql over the ring view.
RING_ON = owned_by_sql("b.token", "r.tok_start", "r.tok_end")


@register(
    "fs_block_locations",
    oracle=fs_sql(
        f"""SELECT b.path, b.block_idx, r.host
           FROM blocks b JOIN ring r
             ON {RING_ON}""",
        "blocks",
        "ring",
    ),
)
def fs_block_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getFileBlockLocations: interval-match each block token into the ring
    (ThriftStore.scala:567-585), wraparound range included. Ring is
    broadcast — the reference fetches describe_ring to every client for
    the same reason."""
    return SnackCatalog(spark, sf_dir).block_locations()


@register(
    "rel_price_band_join",
    oracle="""
    SELECT band.n_nationkey AS band_id, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_total
    FROM orders o
    JOIN nation band
      ON o.o_totalprice >= CAST(band.n_nationkey AS DOUBLE) * 25000.0
     AND o.o_totalprice <  (CAST(band.n_nationkey AS DOUBLE) + 1) * 25000.0
    GROUP BY band.n_nationkey
    """,
)
def rel_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same interval-join family on the star schema: orders binned
    into 25 price bands via a non-equi broadcast join + aggregation."""
    o = load_table(spark, sf_dir, "orders")
    band = F.broadcast(load_table(spark, sf_dir, "nation"))
    lo = band["n_nationkey"].cast("double") * 25000.0
    hi = (band["n_nationkey"].cast("double") + 1) * 25000.0
    from snackfs_spark.functions import dsum, money

    return (
        o.join(band, (o["o_totalprice"] >= lo) & (o["o_totalprice"] < hi))
        .groupBy(band["n_nationkey"].alias("band_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice"), "band_total"),
        )
    )


RANGE_READ_START = 300     # byte range for split planning
RANGE_READ_LEN = 600


@register(
    "fs_block_locations_range",
    oracle=fs_sql(
        f"""SELECT b.path, b.block_idx, r.host
           FROM (
             SELECT bl.path, bl.block_idx, bl.token
             FROM blocks bl
             JOIN (SELECT path AS fpath, CAST(size AS BIGINT) AS fsize
                   FROM files WHERE NOT is_dir) f
               ON bl.path = f.fpath
             WHERE bl.block_idx * 256 < {RANGE_READ_START + RANGE_READ_LEN}
               AND bl.block_idx * 256 + least(256, f.fsize - bl.block_idx * 256)
                   > {RANGE_READ_START}
           ) b JOIN ring r
             ON {RING_ON}""",
        "blocks",
        "files",
        "ring",
    ),
)
def fs_block_locations_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getFileBlockLocations(path, start, len) (SnackFS.scala:135-149):
    only blocks overlapping [start, start+len) are located. The overlap
    predicate is implemented CORRECTLY — the reference's filter at
    SnackFS.scala:138 only drops blocks before the range and wrongly
    keeps blocks after it; the oracle pins the correct semantics."""
    lo, hi = RANGE_READ_START, RANGE_READ_START + RANGE_READ_LEN
    b = blocks_df(spark, sf_dir)
    f = files_df(spark, sf_dir).filter(~F.col("is_dir")).select(
        F.col("path").alias("fpath"), F.col("size").alias("fsize")
    )
    b = (
        b.join(f, b["path"] == f["fpath"])
        .withColumn("b_off", F.col("block_idx").cast("long") * 256)
        .withColumn("b_len", F.least(F.lit(256), F.col("fsize") - F.col("b_off")))
        .filter((F.col("b_off") < hi) & (F.col("b_off") + F.col("b_len") > lo))
        .select("path", "block_idx", "token")
    )
    return place(spark, sf_dir, b).select("path", "block_idx", "host")


# ----------------------------------------------------------- replica sets ----

@register(
    "fs_replica_sets",
    oracle=fs_sql(
        f"""
        , owners AS (
            SELECT b.path, b.block_idx,
                   CAST(n0.n_nationkey AS BIGINT) AS owner_key
            FROM blocks b
            JOIN ring r
              ON {RING_ON}
            JOIN nation n0 ON r.host = n0.n_name
        ),
        placed AS (
            SELECT o.path, o.block_idx, rk.rank,
                   (o.owner_key + rk.rank) % {RING_NODES} AS replica_key
            FROM owners o, (SELECT unnest(range(0, {REPLICATION})) AS rank) rk
        )
        SELECT n.n_name AS host,
               CAST(SUM(CASE WHEN p.rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_primary,
               CAST(SUM(CASE WHEN p.rank > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_replica,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM placed p JOIN nation n ON p.replica_key = n.n_nationkey
        GROUP BY n.n_name
        """,
        "blocks",
        "ring",
    ),
)
def fs_replica_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica placement audit: every block's RF=3 replica set under the
    reference store's SimpleStrategy (owner range + the next RF-1 ring
    successors — Cassandra's placement, which describe_ring at
    ThriftStore.scala:543-605 exposes), rolled up to a per-host balance
    report. The ring is broadcast (as the reference broadcasts
    describe_ring to clients); the explode is x3; the rollup is 25 keys —
    block-count-proportional work, host-count-proportional output."""
    # the owner's node key comes from the HOST IDENTITY (join back to
    # nation), not from dividing tok_start by RING_STEP: the division is
    # exact only while ranges start at exact multiples, and Spark's cast
    # truncates where DuckDB's rounds — a silent one-host shift the
    # moment the ring layout changes (code-review r5)
    owner_keys = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_name").alias("host"), F.col("n_nationkey").alias("owner_key")
        )
    )
    owners = (
        place(spark, sf_dir, blocks_df(spark, sf_dir))
        .join(owner_keys, "host")
        .select("path", "block_idx", F.col("owner_key").cast("long").alias("owner_key"))
    )
    placed = owners.select(
        "path",
        "block_idx",
        F.explode(F.sequence(F.lit(0), F.lit(REPLICATION - 1))).alias("rank"),
        "owner_key",
    ).select(
        "path",
        "block_idx",
        "rank",
        ((F.col("owner_key") + F.col("rank")) % RING_NODES).alias("replica_key"),
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        placed.join(nation, placed["replica_key"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("host"))
        .agg(
            F.sum(F.when(F.col("rank") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_primary"),
            F.sum(F.when(F.col("rank") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_replica"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )


# Erasure-coding layout planner: RS(EC_K, EC_M) striping per file vs the
# ring's RF=3 replication. Small stripes (4+2) because this filesystem's
# files are block-scarce — exactly the regime where the EC-vs-replication
# tradeoff needs auditing (parity overhead approaches replication for
# sub-stripe files, and parity is useless without host diversity).
EC_K = 4   # data units per stripe
EC_M = 2   # parity units per stripe


@register(
    "fs_erasure_layout",
    oracle=fs_sql(
        f"""SELECT path, n_blocks, distinct_hosts,
               (n_blocks + {EC_K - 1}) // {EC_K} AS stripes,
               {EC_M} * ((n_blocks + {EC_K - 1}) // {EC_K}) AS parity_blocks,
               n_blocks + {EC_M} * ((n_blocks + {EC_K - 1}) // {EC_K}) AS stored_ec,
               {REPLICATION} * n_blocks AS stored_rf3,
               {REPLICATION} * n_blocks
                 - (n_blocks + {EC_M} * ((n_blocks + {EC_K - 1}) // {EC_K}))
                 AS savings_blocks,
               (1000 * (n_blocks + {EC_M} * ((n_blocks + {EC_K - 1}) // {EC_K})))
                 // n_blocks AS overhead_permille
           FROM (
             SELECT b.path,
                    CAST(COUNT(*) AS BIGINT) AS n_blocks,
                    CAST(COUNT(DISTINCT r.host) AS BIGINT) AS distinct_hosts
             FROM blocks b JOIN ring r
               ON {RING_ON}
             GROUP BY b.path
           )""",
        "blocks",
        "ring",
    ),
)
def fs_erasure_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file erasure-coding plan: RS({EC_K},{EC_M}) stripe count,
    parity units, stored blocks vs RF=3 replication, integer-exact
    overhead permille, and the file's current owner-host diversity
    (parity survives a host loss only if units spread hosts — a file
    whose blocks all hash to one ring range is flagged by
    distinct_hosts=1 regardless of the parity math).

    Scale: the ring interval-match broadcasts the 25-range ring
    (BroadcastNestedLoopJoin — no shuffle of blocks); the per-path
    aggregate collapses map-side to one row per file; all stripe math
    is post-aggregation int64 arithmetic. The sub-stripe small-file
    penalty this surfaces is the real operational driver for packing
    small files before EC (cf. HDFS EC policy guidance)."""
    per_file = (
        place(spark, sf_dir, blocks_df(spark, sf_dir))
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.count_distinct("host").cast("long").alias("distinct_hosts"),
        )
    )
    return per_file.selectExpr(
        "path",
        "n_blocks",
        "distinct_hosts",
        f"(n_blocks + {EC_K - 1}) div {EC_K} AS stripes",
        f"{EC_M} * ((n_blocks + {EC_K - 1}) div {EC_K}) AS parity_blocks",
        f"n_blocks + {EC_M} * ((n_blocks + {EC_K - 1}) div {EC_K}) AS stored_ec",
        f"{REPLICATION} * n_blocks AS stored_rf3",
        f"{REPLICATION} * n_blocks"
        f" - (n_blocks + {EC_M} * ((n_blocks + {EC_K - 1}) div {EC_K}))"
        " AS savings_blocks",
        f"(1000 * (n_blocks + {EC_M} * ((n_blocks + {EC_K - 1}) div {EC_K})))"
        " div n_blocks AS overhead_permille",
    )


# ------------------------------------------------------- rebalance plan ----
#
# The operational follow-on to the load audit: a one-round rebalance
# PROPOSAL pairing the k-th most-overloaded host with the k-th most
# underloaded one and moving min(surplus, deficit) blocks — the
# deterministic declarative core of what a ring operator's "move
# tokens" runbook computes by hand. Target load is the exact integer
# mean (total div nodes); hosts within one block of target sit out.
# Every step after the block→host match is algebra over RING_NODES
# rows, so the plan is free at any corpus size.


@register(
    "fs_hotspot_rebalance_plan",
    oracle=fs_sql(
        f""", matched AS (
      SELECT r.host, CAST(COUNT(b.token) AS BIGINT) AS load
      FROM ring r LEFT JOIN blocks b
        ON {RING_ON}
      GROUP BY r.host
    ),
    t AS (SELECT CAST(SUM(load) // COUNT(*) AS BIGINT) AS target FROM matched),
    donors AS (
      SELECT host AS from_host, load - t.target AS surplus,
             ROW_NUMBER() OVER (ORDER BY load - t.target DESC, host) AS k
      FROM matched CROSS JOIN t WHERE load - t.target > 0
    ),
    receivers AS (
      SELECT host AS to_host, t.target - load AS deficit,
             ROW_NUMBER() OVER (ORDER BY t.target - load DESC, host) AS k
      FROM matched CROSS JOIN t WHERE t.target - load > 0
    )
    SELECT d.k AS move_rank, d.from_host, r.to_host,
           CAST(LEAST(d.surplus, r.deficit) AS BIGINT) AS n_blocks_moved,
           CAST(d.surplus AS BIGINT) AS donor_surplus,
           CAST(r.deficit AS BIGINT) AS receiver_deficit
    FROM donors d JOIN receivers r ON r.k = d.k""",
        "ring",
        "blocks",
    ),
)
def fs_hotspot_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-round ring rebalance proposal: per-host block load from the
    wraparound interval match, exact integer target (total div nodes),
    and rank-paired donor→receiver moves of min(surplus, deficit)
    blocks — the runbook table a ring operator reads before moving
    tokens.

    Scale: the block→host match is the same broadcast nested-loop
    interval join as Q-BLOCKLOC (ring is RING_NODES rows); load
    collapses map-side onto host keys, and everything after — target,
    ranks, pairing — is algebra over <= RING_NODES rows (the bounded
    windows are 25 rows by construction)."""
    placed = place(spark, sf_dir, blocks_df(spark, sf_dir)).select("host", "token")
    matched = (
        ring_df(spark, sf_dir)
        .join(placed, "host", "left")
        .groupBy("host")
        .agg(F.count("token").cast("long").alias("load"))
    )
    t = matched.agg(F.expr("sum(load) div count(1)").cast("long").alias("target"))
    loaded = matched.crossJoin(F.broadcast(t))
    from pyspark.sql import Window

    donors = (
        loaded.filter(F.col("load") - F.col("target") > 0)
        .select(
            F.col("host").alias("from_host"),
            (F.col("load") - F.col("target")).alias("surplus"),
        )
        .withColumn(
            "k",
            F.row_number().over(
                Window.orderBy(F.col("surplus").desc(), F.col("from_host"))
            ),
        )
    )
    receivers = (
        loaded.filter(F.col("target") - F.col("load") > 0)
        .select(
            F.col("host").alias("to_host"),
            (F.col("target") - F.col("load")).alias("deficit"),
        )
        .withColumn(
            "k",
            F.row_number().over(
                Window.orderBy(F.col("deficit").desc(), F.col("to_host"))
            ),
        )
    )
    # both sides are <= RING_NODES/2 rows by construction — broadcast
    # is safe to force (unlike corpus-proportional relations)
    return donors.join(F.broadcast(receivers), "k").select(
        F.col("k").cast("long").alias("move_rank"),
        "from_host",
        "to_host",
        F.least("surplus", "deficit").cast("long").alias("n_blocks_moved"),
        F.col("surplus").cast("long").alias("donor_surplus"),
        F.col("deficit").cast("long").alias("receiver_deficit"),
    )


# ------------------------------------------------------ ring scaling plan ----
#
# Elastic-scaling audit (the consistent-hashing "add a node" move,
# Karger 1997 / Cassandra's bootstrap): a new node takes a token at the
# MIDPOINT of the heaviest host's range, so exactly the blocks in
# (heavy_start, midpoint] move to it and every other host is untouched
# — the minimal-disruption property that motivates consistent hashing.
# The plan reports per-host load before/after, the move volume, and how
# it compares to the ideal 1/(N+1) share a perfectly balanced addition
# would claim. Wraparound ranges are handled with the same modular
# interval algebra as Q-BLOCKLOC; all integers are exact in the 2^32
# token space.


@register(
    "fs_ring_scaling_plan",
    oracle=fs_sql(
        f""", matched AS (
      SELECT r.host, r.tok_start, r.tok_end,
             CAST(COUNT(b.token) AS BIGINT) AS load
      FROM ring r LEFT JOIN blocks b
        ON {RING_ON}
      GROUP BY r.host, r.tok_start, r.tok_end
    ),
    donor AS (
      SELECT host, tok_start, tok_end,
             CAST((tok_start + ((tok_end - tok_start + {TOKEN_SPACE}) % {TOKEN_SPACE}) // 2)
                  % {TOKEN_SPACE} AS BIGINT) AS mid
      FROM matched
      QUALIFY ROW_NUMBER() OVER (ORDER BY load DESC, host) = 1
    ),
    moved AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_moved
      FROM blocks b CROSS JOIN donor d
      WHERE {owned_by_sql("b.token", "d.tok_start", "d.mid")}
    ),
    tot AS (SELECT CAST(SUM(load) AS BIGINT) AS total FROM matched),
    after AS (
      SELECT m.host, m.load AS load_before,
             CAST(m.load - CASE WHEN m.host = d.host THEN mv.n_moved ELSE 0 END
                  AS BIGINT) AS load_after,
             CAST(0 AS BIGINT) AS is_new
      FROM matched m CROSS JOIN donor d CROSS JOIN moved mv
      UNION ALL
      SELECT 'HOST_NEW', CAST(0 AS BIGINT), mv.n_moved, CAST(1 AS BIGINT)
      FROM moved mv
    )
    SELECT after.host, after.load_before, after.load_after, after.is_new,
           mv.n_moved AS n_blocks_moved,
           CAST(tot.total // {RING_NODES + 1} AS BIGINT) AS ideal_load,
           CAST((1000 * mv.n_moved) // greatest(tot.total // {RING_NODES + 1}, 1)
                AS BIGINT) AS move_vs_ideal_permille
    FROM after CROSS JOIN moved mv CROSS JOIN tot""",
        "ring",
        "blocks",
    ),
)
def fs_ring_scaling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash node-add plan: the new node bisects the heaviest
    host's token range; per-host load before/after, the exact move
    volume (only the bisected half moves — the minimal-disruption
    guarantee), the ideal 1/(N+1) share, and their ratio in permille —
    the capacity-planning table read before a ring bootstrap.

    Scale: one broadcast interval match (the Q-BLOCKLOC posture) for
    loads, one more 1-row-broadcast membership count for the moved set
    — two block scans total; everything else is algebra over the
    RING_NODES+1-row relation (bounded windows and crossJoins by
    construction)."""
    from pyspark.sql import Window

    b = blocks_df(spark, sf_dir)
    matched = (
        ring_df(spark, sf_dir)
        .join(place(spark, sf_dir, b).select("host", "token"), "host", "left")
        .groupBy("host")
        .agg(F.count("token").cast("long").alias("load"))
        .join(ring_df(spark, sf_dir), "host")
        .localCheckpoint(eager=False)
    )
    donor = (
        matched.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("load").desc(), F.col("host"))),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("host").alias("d_host"),
            F.col("tok_start").alias("d_start"),
            F.expr(
                f"CAST((tok_start + ((tok_end - tok_start + {TOKEN_SPACE})"
                f" % {TOKEN_SPACE}) div 2) % {TOKEN_SPACE} AS BIGINT)"
            ).alias("mid"),
        )
    )
    dj = F.broadcast(donor)
    moved = (
        b.join(dj, owned_by(b["token"], dj["d_start"], dj["mid"]))
        .agg(F.count(F.lit(1)).cast("long").alias("n_moved"))
    )
    tot = matched.agg(F.sum("load").cast("long").alias("total"))
    after_existing = (
        matched.crossJoin(F.broadcast(donor))
        .crossJoin(F.broadcast(moved))
        .select(
            "host",
            F.col("load").alias("load_before"),
            (
                F.col("load")
                - F.when(F.col("host") == F.col("d_host"), F.col("n_moved")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("load_after"),
            F.lit(0).cast("long").alias("is_new"),
        )
    )
    after_new = moved.select(
        F.lit("HOST_NEW").alias("host"),
        F.lit(0).cast("long").alias("load_before"),
        F.col("n_moved").cast("long").alias("load_after"),
        F.lit(1).cast("long").alias("is_new"),
    )
    after = after_existing.unionByName(after_new)
    return (
        after.crossJoin(F.broadcast(moved))
        .crossJoin(F.broadcast(tot))
        .select(
            "host",
            "load_before",
            "load_after",
            "is_new",
            F.col("n_moved").alias("n_blocks_moved"),
            F.expr(f"CAST(total div {RING_NODES + 1} AS BIGINT)").alias("ideal_load"),
            F.expr(
                f"CAST((1000 * n_moved) div greatest(total div {RING_NODES + 1}, 1)"
                " AS BIGINT)"
            ).alias("move_vs_ideal_permille"),
        )
    )
